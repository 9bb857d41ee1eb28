"""Checkpointed, resumable cube writes with per-partition lineage + metrics.

The reference has no resumability: one ``open_data`` call builds one in-memory
dask graph, and a failure restarts everything. The north rule requires
"resumable from per-partition checkpoints with lineage and metric emission",
so this module adds the Iceberg-commit-log idea over plain parquet:

* the cube is written partitioned by ``(solar_day, tile_y, tile_x)``;
* each successful write call publishes ONE parquet commit table under
  ``_commitlog/`` holding a row per completed partition: key, row/byte
  counts, contributing item ids (lineage — the Spark analogue of the
  reference's ``stac_items`` attrs, utils.py:938-947). The table is written
  distributed (staged, then renamed into place), so no per-partition data
  ever crosses the driver;
* ``pending_partitions`` anti-joins the requested partition set against the
  commit log, so a restarted job recomputes ONLY missing partitions;
* global attrs (query params, engine version — utils.py:907-952
  ``add_attrs``) land in ``_commitlog/_meta.json``; run totals in
  ``_commitlog/runs.jsonl`` (one line per call).

At 100 TB the commit log is tiny (one row per grid partition, ~10^5 rows
for a continental cube) and the anti-join is a broadcast. If a real Iceberg
runtime is on the classpath the same interface maps onto Iceberg snapshots;
this hand-rolled log keeps the semantics without the jar. (Legacy jsonl
commit files from older runs are still read.)
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

COMMITLOG = "_commitlog"
PART_COLS = ["solar_day", "tile_y", "tile_x"]
#: key columns of every commit table; reading with it skips the schema
#: inference job a bare ``spark.read.parquet`` launches
_KEY_SCHEMA = "solar_day string, tile_y int, tile_x int"


def _log_dir(path: str) -> str:
    return os.path.join(path, COMMITLOG)


def write_meta(path: str, attrs: dict) -> None:
    """Global lineage attrs (C13): query params, engine version, timestamps."""
    os.makedirs(_log_dir(path), exist_ok=True)
    with open(os.path.join(_log_dir(path), "_meta.json"), "w") as f:
        json.dump(attrs, f, indent=2, sort_keys=True, default=str)


def read_meta(path: str) -> dict:
    p = os.path.join(_log_dir(path), "_meta.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _commit_tables(path: str) -> tuple[list[str], list[str]]:
    """(parquet commit dirs, legacy jsonl files) in the commit log."""
    d = _log_dir(path)
    pq, jl = [], []
    if os.path.isdir(d):
        for fn in sorted(os.listdir(d)):
            if fn.startswith("commit-") and fn.endswith(".parquet"):
                pq.append(os.path.join(d, fn))
            elif fn.startswith("commit-") and fn.endswith(".jsonl"):
                jl.append(os.path.join(d, fn))
    return pq, jl


def committed_partitions(spark: SparkSession, path: str) -> DataFrame:
    """DataFrame(solar_day, tile_y, tile_x) of completed partitions.

    Commits are parquet tables (one per successful write call), so this is a
    distributed scan — nothing partition-count-shaped ever crosses the
    driver. Legacy driver-written jsonl logs are still honored."""
    pq, jl = _commit_tables(path)
    parts = []
    if pq:
        parts.append(spark.read.schema(_KEY_SCHEMA).parquet(*pq))
    if jl:
        rows = []
        for p in jl:
            with open(p) as f:
                rows.extend(
                    (r["solar_day"], r["tile_y"], r["tile_x"])
                    for r in map(json.loads, f)
                )
        parts.append(
            spark.createDataFrame(rows, _KEY_SCHEMA)
        )
    if not parts:
        return spark.createDataFrame([], _KEY_SCHEMA).withColumn(
            "solar_day", F.to_date("solar_day")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("solar_day", F.to_date("solar_day")).distinct()


def pending_partitions(cube: DataFrame, path: str) -> DataFrame:
    """Anti-join the cube against the commit log → only not-yet-committed
    partitions survive. This is the resume path: re-running a failed job
    neither rewrites nor re-commits completed (solar_day, tile_y, tile_x)
    partitions. It does NOT save their pixel work: the broadcast anti-join
    sits above the mosaic's MapInPandas in the physical plan (the filter
    cannot pass the Python UDFs), so every scene of the cube's time range is
    still decoded, regridded and mosaicked, and the committed tiles are
    dropped only before the sink. A caller that wants a cheaper resume
    narrows the cube's own inputs (the per-day job skips committed days
    before it builds a plan)."""
    if not any(_commit_tables(path)):
        return cube
    done = committed_partitions(cube.sparkSession, path)
    return cube.join(F.broadcast(done), PART_COLS, "left_anti")


def write_cube(
    cube: DataFrame,
    path: str,
    attrs: dict | None = None,
    resume: bool = True,
    expected_partitions: DataFrame | None = None,
) -> dict:
    """Write cube tiles partitioned by (solar_day, tile_y, tile_x); after a
    successful write, the commit log gains one parquet commit table with a
    row PER PARTITION holding its metrics/lineage. Returns run metrics; a
    call that commits nothing returns ``written_partitions`` 0 with its
    measured ``elapsed_sec`` and appends no ``runs.jsonl`` line.

    Resume contract: commit granularity is the WRITE CALL (all partitions of
    a successful call are logged atomically at its end); resume granularity
    is the partition — a restarted job anti-joins the log and recomputes only
    partitions no completed call has covered. Crash between data-write and
    log-write ⇒ those partitions are recomputed and overwritten idempotently
    (dynamic partition overwrite), never duplicated. Callers needing
    finer-grained checkpoints split the input into several write_cube calls
    (e.g. one per solar_day — the streaming path does exactly this per
    micro-batch).

    The cube plan is persisted (DISK_ONLY — tile binaries would evict the
    writers' heap at native tile sizes) across the metrics pass and the data
    write so the expensive decode/regrid/mosaic pipeline executes ONCE, not
    twice.

    The per-partition metrics/lineage rows never touch the driver: the
    aggregation is WRITTEN (distributed) to a staging dir inside the commit
    log, and publishing a commit is a single rename of that staged parquet
    table — O(1) driver work at any partition count. The only driver-side
    numbers are the run totals (partition count, elapsed), one row per call.

    ``expected_partitions`` — a (solar_day, tile_y, tile_x) DataFrame of the
    partitions this run is REQUESTED to cover, derivable from metadata alone
    (plans.cube.expected_partitions: scene search x grid assignment, no
    pixel decode) — switches on the FUSED single-pass path: the cube
    pipeline executes exactly ONCE straight into the parquet sink (no
    persist of full planes, no second metrics read of them), and the commit
    metrics are aggregated from the files just written via a COLUMN-PRUNED
    read-back (part cols + the tiny precomputed ``data_bytes`` column — the
    pixel payload column is never touched again). Restricting the read-back
    to expected-and-not-previously-committed partitions makes it exactly
    this run's output: every such partition was fully rewritten by this run
    (dynamic partition overwrite replaces whole partition dirs), so partial
    files from any earlier crashed run can't leak into a commit. Partial
    files of a crashed run under an expected partition that yields zero rows
    this time are deleted by a pre-clean stage before the write; it runs
    only when one of the run's ``solar_day=`` directories already exists,
    since a leftover cannot live anywhere else, so a call on a fresh day
    skips it. Besides the pipeline itself, a fused call costs one collect of
    the run's day list, the column-pruned read-back and a small commit-table
    write; the commit bookkeeping (any commits yet, staged row count,
    publish) runs on the driver without Spark jobs. Without
    ``expected_partitions`` the legacy persist+two-pass path runs.
    """
    spark = cube.sparkSession
    os.makedirs(_log_dir(path), exist_ok=True)
    if attrs:
        write_meta(path, attrs)
    t0 = time.perf_counter()
    run_id = uuid.uuid4().hex[:12]
    staging = os.path.join(_log_dir(path), "_staging", run_id)
    if expected_partitions is not None:
        return _write_cube_fused(
            cube, path, expected_partitions, resume, t0, run_id, staging
        )
    todo = pending_partitions(cube, path) if resume else cube
    # DISK_ONLY, not the MEMORY_AND_DISK default: the persisted rows are the
    # FINAL pixel planes (tile-sized binaries — ~16 MB/row at the native
    # 2048-px tile), so caching them on-heap next to 32 concurrent parquet
    # writers OOMs the JVM at sf1.0 (measured); the reuse pattern is
    # write-once-read-twice (metrics agg + data write), for which local-disk
    # spill is the scalable level at any cube size
    from pyspark import StorageLevel

    todo = todo.persist(StorageLevel.DISK_ONLY)
    try:
        # per-partition metrics + lineage (A8) in one aggregation, written
        # as a parquet table (repartition(1): the rows are ~100 B each, so
        # one file per commit keeps the log compact without bottlenecking
        # the parallel aggregation that feeds it)
        (
            todo.groupBy(*PART_COLS)
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.octet_length("data")).alias("bytes"),
                F.sum("n_scenes").alias("n_scene_tiles"),
                F.array_join(
                    F.array_sort(F.collect_set("item_ids")), ";"
                ).alias("lineage"),
            )
            .withColumn("solar_day", F.col("solar_day").cast("string"))
            .repartition(1)
            .write.mode("overwrite")
            .parquet(staging)
        )
        n_parts = _staged_rows(staging)
        if n_parts == 0:
            return _zero_run(t0, resume)

        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # no repartition here: mosaic_take_first already hash-partitions its
        # output on exactly this write key (write_aligned default), so a
        # shuffle of the full planes would be pure extra byte movement;
        # non-mosaic inputs just produce a few more files per partition dir
        # data_bytes is written here too (not only in the fused path) so a
        # store with mixed legacy+fused files keeps a uniform schema and the
        # fused read-back's column-pruned metrics never have to touch the
        # plane payload column
        (
            todo.withColumn("solar_day", F.col("solar_day").cast("string"))
            .withColumn("data_bytes", F.octet_length("data"))
            .write.mode("overwrite")
            .partitionBy(*PART_COLS)
            .parquet(path)
        )
    finally:
        todo.unpersist()
    # publish: the staged metrics table BECOMES the commit record atomically;
    # a crash before this rename leaves only ignorable staging (data
    # partitions are then recomputed and overwritten idempotently)
    return _publish_commit(path, staging, run_id, n_parts, t0, resume)


def _staged_rows(staging: str) -> int:
    """Row count of a staged commit table, summed from its parquet footers
    on the driver: the commit log is local-FS (see ``_publish_commit``), so
    this costs no Spark job."""
    import pyarrow.parquet as pq_mod

    return sum(
        pq_mod.read_metadata(os.path.join(staging, fn)).num_rows
        for fn in os.listdir(staging)
        if fn.endswith(".parquet") and not fn.startswith(("_", "."))
    )


def _zero_run(t0: float, resume: bool) -> dict:
    """Run totals of a call that commits nothing: no commit table and no
    runs.jsonl line, but the time the call took is still reported."""
    return {
        "written_partitions": 0,
        "elapsed_sec": round(time.perf_counter() - t0, 3),
        "resumed": resume,
    }


def _publish_commit(path: str, staging: str, run_id: str, n_parts: int,
                    t0: float, resume: bool) -> dict:
    """Atomic rename of the staged metrics table into the commit log +
    run-totals bookkeeping (shared by both write paths)."""
    os.rename(staging, os.path.join(_log_dir(path), f"commit-{run_id}.parquet"))
    elapsed = time.perf_counter() - t0
    run_row = {
        "run_id": run_id,
        "written_partitions": int(n_parts),
        "elapsed_sec": round(elapsed, 3),
        "partitions_per_sec": round(n_parts / elapsed, 3) if elapsed else None,
        "resumed": resume,
    }
    with open(os.path.join(_log_dir(path), "runs.jsonl"), "a") as f:
        f.write(json.dumps(run_row) + "\n")
    return run_row


def _preclean_distributed(keys: DataFrame, path: str) -> None:
    """Delete partition directories for the given (solar_day, tile_y,
    tile_x) keys as ONE distributed mapInPandas stage: each task rmtrees
    its batch of keys against the shared store, so driver work is O(1) in
    the key count (vs the prior per-key driver isdir+rmtree loop — minutes
    of driver stats at 10^5-10^6 keys before any task launched). Leftover
    dirs exist only after a crash, so tasks mostly do a single isdir miss.
    On an object store the same stage issues batched DeleteObjects calls."""

    def rm(batches):
        import shutil

        import pandas as pd

        for pdf in batches:
            n = 0
            for r in pdf.itertuples(index=False):
                d = os.path.join(
                    path,
                    f"solar_day={r.solar_day}",
                    f"tile_y={int(r.tile_y)}",
                    f"tile_x={int(r.tile_x)}",
                )
                if os.path.isdir(d):
                    shutil.rmtree(d, ignore_errors=True)
                    n += 1
            yield pd.DataFrame({"n_removed": [n]})

    (
        keys.select(
            F.col("solar_day").cast("string").alias("solar_day"),
            "tile_y",
            "tile_x",
        )
        .mapInPandas(rm, "n_removed int")
        .agg(F.sum("n_removed"))
        .first()
    )


def _write_cube_fused(
    cube: DataFrame,
    path: str,
    expected_partitions: DataFrame,
    resume: bool,
    t0: float,
    run_id: str,
    staging: str,
) -> dict:
    """Single-pipeline-execution write (see write_cube docstring): data
    write first (the only pass over pixel planes), then commit metrics from
    a column-pruned read-back of the written store."""
    spark = cube.sparkSession
    # a listed parquet commit always holds rows (one is only published when
    # n_parts > 0), so the listing answers "any commits?" without a job
    pq, jl = _commit_tables(path)
    have_commits = bool(pq or jl)
    done = committed_partitions(spark, path)
    keys = expected_partitions.select(
        F.to_date(F.col("solar_day").cast("string")).alias("solar_day"),
        F.col("tile_y").cast("int").alias("tile_y"),
        F.col("tile_x").cast("int").alias("tile_x"),
    ).distinct()
    # resume narrows the run to uncommitted keys; a full rewrite covers all
    if resume and have_commits:
        keys = keys.join(F.broadcast(done), PART_COLS, "left_anti")
    # one row per partition key — tiny at any cube size. Coalesced to the
    # task slots: the distinct's shuffle.partitions partitions would make
    # every reuse below (day list, pre-clean, read-back semi-join) launch
    # that many near-empty tasks
    exp = keys.coalesce(spark.sparkContext.defaultParallelism).persist()
    try:
        # the ONE collect: the distinct day list (one value per solar day in
        # the run). It answers "anything to do?", tells whether a crash
        # leftover can exist at all, and bounds the read-back listing below
        days = sorted(
            str(r["solar_day"])
            for r in exp.select("solar_day").distinct().collect()
        )
        if not days:
            return _zero_run(t0, resume)
        day_dirs = [os.path.join(path, f"solar_day={d}") for d in days]
        todo = cube
        if resume and have_commits:
            todo = todo.join(F.broadcast(done), PART_COLS, "left_anti")
        # pre-clean leftovers of CRASHED runs under the UNCOMMITTED keys:
        # dynamic partition overwrite only replaces partitions the data
        # actually contains, so an expected partition that yields ZERO rows
        # this run would otherwise leave a crashed run's partial files in
        # place — and the read-back below would commit them as complete.
        # A leftover for (d, y, x) lives under solar_day=d, so when none of
        # this run's day directories exists there is nothing to delete and
        # the stage is skipped. Committed directories are NEVER pre-cleaned,
        # in either resume mode: with resume=False the run rewrites them via
        # dynamic partition overwrite (which replaces a dir only when new
        # rows actually land), so deleting them up front would turn a
        # mid-write crash — or a zero-row partition — into silent data loss
        # that the commit log still records as committed. The delete runs
        # DISTRIBUTED (one mapInPandas stage over the key DataFrame): no
        # per-key driver filesystem calls at 10^5-10^6 partition keys.
        if any(os.path.isdir(p) for p in day_dirs):
            uncommitted = (
                exp.join(F.broadcast(done), PART_COLS, "left_anti")
                if have_commits and not resume
                else exp
            )
            _preclean_distributed(uncommitted, path)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            todo.withColumn("solar_day", F.col("solar_day").cast("string"))
            .withColumn("data_bytes", F.octet_length("data"))
            .write.mode("overwrite")
            .partitionBy(*PART_COLS)
            .parquet(path)
        )
        # metrics/lineage from the just-written files, with the LISTING
        # pruned to this run's solar days: reading the store root would
        # re-list and footer-read every partition ever written — O(total
        # store) per call, O(N^2) over an N-day per-day/streaming loop. A
        # day directory can be absent entirely when every expected tile of
        # that day produced zero rows (all-nodata scenes) — skipped, and the
        # zero-days case returns gracefully instead of failing schema
        # inference on an empty store. Parquet column pruning means the
        # plane payload column is NEVER read here — only partition values
        # and the small metric columns.
        day_paths = [p for p in day_dirs if os.path.isdir(p)]
        if not day_paths:
            return _zero_run(t0, resume)
        rb0 = (
            spark.read.option("mergeSchema", "true")
            .option("basePath", path)
            .parquet(*day_paths)
        )
        # legacy-path files lack the precomputed data_bytes column. Three
        # cases: pure-legacy day dirs (column absent from the merged schema
        # entirely) -> measure the payload column; pure-fused (column
        # present, no NULLs) -> read only the metric column, planes never
        # touched; MIXED dirs (transition era: fused files appended beside
        # pre-change files) -> mergeSchema yields NULL data_bytes for the
        # legacy rows, so a plain sum would silently understate — coalesce
        # onto octet_length(data) for exactly those rows. The mixed case is
        # detected with a cheap probe that scans ONLY the data_bytes column
        # (all other columns pruned), so the common pure-fused path keeps
        # its planes-never-read property.
        if "data_bytes" not in rb0.columns:
            byte_col = F.octet_length("data").cast("long")
        elif rb0.where(F.col("data_bytes").isNull()).limit(1).count() > 0:
            if "data" not in rb0.columns:
                # NULL data_bytes with no payload column to fall back on
                # (e.g. metric-only legacy files): summing past the NULLs
                # would silently understate day bytes — fail loudly instead
                # (ADVICE r6)
                raise ValueError(
                    f"{path}: data_bytes contains NULLs but no 'data' payload "
                    "column exists to measure — day byte totals would be "
                    "silently understated"
                )
            byte_col = F.coalesce(
                F.col("data_bytes"), F.octet_length("data").cast("long")
            )
        else:
            byte_col = F.col("data_bytes")
        rb = (
            rb0.select(
                F.to_date(F.col("solar_day").cast("string")).alias("solar_day"),
                F.col("tile_y").cast("int").alias("tile_y"),
                F.col("tile_x").cast("int").alias("tile_x"),
                "n_scenes", "item_ids", byte_col.alias("data_bytes"),
            )
            .join(F.broadcast(exp), PART_COLS, "left_semi")
        )
        (
            rb.groupBy(*PART_COLS)
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("data_bytes").alias("bytes"),
                F.sum("n_scenes").alias("n_scene_tiles"),
                F.array_join(
                    F.array_sort(F.collect_set("item_ids")), ";"
                ).alias("lineage"),
            )
            .withColumn("solar_day", F.col("solar_day").cast("string"))
            .repartition(1)
            .write.mode("overwrite")
            .parquet(staging)
        )
        n_parts = _staged_rows(staging)
    finally:
        exp.unpersist()
    if n_parts == 0:
        return _zero_run(t0, resume)
    return _publish_commit(path, staging, run_id, n_parts, t0, resume)


def read_cube(spark: SparkSession, path: str) -> DataFrame:
    """Read a written cube back (partition columns restored to types)."""
    return (
        spark.read.parquet(path)
        .withColumn("solar_day", F.to_date("solar_day"))
        .withColumn("tile_y", F.col("tile_y").cast("int"))
        .withColumn("tile_x", F.col("tile_x").cast("int"))
    )


def metrics(path: str) -> list[dict]:
    """All commit-log metric records (per-partition) — driver-side audit
    helper (the scale path is ``spark.read.parquet`` over the commit dirs)."""
    import pyarrow.parquet as pq_mod

    pq, jl = _commit_tables(path)
    out = []
    for p in pq:
        out.extend(pq_mod.read_table(p).to_pylist())
    for p in jl:
        with open(p) as f:
            out.extend(json.loads(x) for x in f)
    return out


def runs(path: str) -> list[dict]:
    """Run-level commit records (one per successful write_cube call)."""
    p = os.path.join(_log_dir(path), "runs.jsonl")
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return [json.loads(x) for x in f]
