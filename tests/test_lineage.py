"""Checkpointed write / resume / metrics tests."""

import json
import os

import pytest
from pyspark.sql import functions as F

from xcube_stac_spark import lineage, synth
from xcube_stac_spark.plans import cube as cube_plan
from xcube_stac_spark.sources.catalog import SceneCatalog

BANDS = ["B02"]
TR = ("2025-06-01", "2025-06-30")


@pytest.fixture(scope="module")
def small_cube(spark, sf0001_dir):
    grid = synth.default_grid("sf0.001")
    cat = SceneCatalog(spark, sf0001_dir)
    return cube_plan.build_cube(cat, grid, time_range=TR, bands=BANDS)


def test_write_resume_roundtrip(spark, small_cube, tmp_path):
    out = str(tmp_path / "cube")
    m1 = lineage.write_cube(small_cube, out, attrs={"bands": BANDS, "time_range": TR})
    assert m1["written_partitions"] > 0
    # resume: everything committed → nothing to do
    m2 = lineage.write_cube(small_cube, out)
    assert m2["written_partitions"] == 0
    # read back equals the computed cube (keys + n_scenes)
    back = lineage.read_cube(spark, out)
    a = {(str(r.solar_day), r.band, r.tile_y, r.tile_x, r.n_scenes) for r in back.collect()}
    b = {(str(r.solar_day), r.band, r.tile_y, r.tile_x, r.n_scenes) for r in small_cube.collect()}
    assert a == b
    assert lineage.read_meta(out)["bands"] == BANDS


def test_partial_resume_recomputes_only_missing(spark, small_cube, tmp_path):
    import pyarrow.parquet as pq

    out = str(tmp_path / "cube2")
    lineage.write_cube(small_cube, out)
    # simulate a partially-failed run: drop some partitions from the commit
    d = lineage._log_dir(out)
    commit = [f for f in os.listdir(d) if f.startswith("commit-") and f.endswith(".parquet")][0]
    cpath = os.path.join(d, commit)
    tbl = pq.read_table(cpath)
    assert tbl.num_rows > 3
    import shutil

    shutil.rmtree(cpath)
    pq.write_table(tbl.slice(0, tbl.num_rows - 3), cpath)  # dir -> single file
    pend = lineage.pending_partitions(small_cube, out)
    assert pend.select("solar_day", "tile_y", "tile_x").distinct().count() == 3
    m = lineage.write_cube(small_cube, out)
    assert m["written_partitions"] == 3
    # now complete
    assert lineage.write_cube(small_cube, out)["written_partitions"] == 0


def test_legacy_jsonl_commits_still_honored(spark, small_cube, tmp_path):
    """Old driver-written jsonl commit logs keep resuming correctly."""
    import json as _json

    out = str(tmp_path / "cube4")
    os.makedirs(lineage._log_dir(out), exist_ok=True)
    keys = (
        small_cube.select("solar_day", "tile_y", "tile_x").distinct().collect()
    )
    assert len(keys) > 2
    legacy = keys[:2]
    with open(os.path.join(lineage._log_dir(out), "commit-legacy.jsonl"), "w") as f:
        for r in legacy:
            f.write(
                _json.dumps(
                    {"solar_day": str(r.solar_day), "tile_y": r.tile_y, "tile_x": r.tile_x}
                )
                + "\n"
            )
    pend = lineage.pending_partitions(small_cube, out)
    assert (
        pend.select("solar_day", "tile_y", "tile_x").distinct().count()
        == len(keys) - 2
    )
    assert lineage.write_cube(small_cube, out)["written_partitions"] == len(keys) - 2


def test_write_cube_plan_has_no_driver_collect(small_cube, tmp_path):
    """The metrics path must stay distributed: write_cube's source contains
    no DataFrame.collect/toPandas call (the VERDICT r2 scaling limit)."""
    import inspect

    src = inspect.getsource(lineage.write_cube)
    assert ".collect()" not in src and "toPandas" not in src
    # the fused path is allowed EXACTLY ONE collect: the DISTINCT DAY list
    # (one value per solar day in the run), taken up front — it decides
    # whether there is anything to write, whether the pre-clean must run
    # (only when a day directory already exists) and which day directories
    # the read-back lists; the pre-clean itself is a distributed
    # mapInPandas stage, so nothing partition-count-shaped crosses the
    # driver
    fused = inspect.getsource(lineage._write_cube_fused)
    assert fused.count(".collect()") == 1 and "toPandas" not in fused
    pc = inspect.getsource(lineage._preclean_distributed)
    assert ".collect()" not in pc and "toPandas" not in pc


def test_metrics_content(spark, small_cube, tmp_path):
    out = str(tmp_path / "cube3")
    lineage.write_cube(small_cube, out)
    ms = lineage.metrics(out)
    assert ms and all(m["n_rows"] >= 1 and m["bytes"] > 0 for m in ms)
    assert all("lineage" in m and m["lineage"] for m in ms)


@pytest.fixture(scope="module")
def small_expected(spark, sf0001_dir):
    grid = synth.default_grid("sf0.001")
    cat = SceneCatalog(spark, sf0001_dir)
    return cube_plan.expected_partitions(cat, grid, time_range=TR, bands=BANDS)


def test_fused_write_matches_legacy(spark, small_cube, small_expected, tmp_path):
    """expected_partitions switches on the single-pass fused write; its
    store content and commit metrics must equal the legacy two-pass path."""
    leg, fus = str(tmp_path / "leg"), str(tmp_path / "fus")
    m1 = lineage.write_cube(small_cube, leg)
    m2 = lineage.write_cube(small_cube, fus, expected_partitions=small_expected)
    assert m1["written_partitions"] == m2["written_partitions"] > 0

    def snap(path):
        return {
            (str(r.solar_day), r.band, r.tile_y, r.tile_x,
             bytes(r.data), r.n_scenes, r.item_ids)
            for r in lineage.read_cube(spark, path).collect()
        }

    assert snap(leg) == snap(fus)
    key = lambda m: (m["solar_day"], m["tile_y"], m["tile_x"])
    ml = {key(m): (m["n_rows"], m["bytes"], m["n_scene_tiles"], m["lineage"])
          for m in lineage.metrics(leg)}
    mf = {key(m): (m["n_rows"], m["bytes"], m["n_scene_tiles"], m["lineage"])
          for m in lineage.metrics(fus)}
    assert ml == mf
    # metadata-only expected set == partitions actually produced
    exp = {(str(r.solar_day), r.tile_y, r.tile_x)
           for r in small_expected.collect()}
    assert exp == {k for k in ml}


def test_fused_resume_skips_and_refills(spark, small_cube, small_expected, tmp_path):
    import shutil

    import pyarrow.parquet as pq

    out = str(tmp_path / "fused_resume")
    m1 = lineage.write_cube(small_cube, out, expected_partitions=small_expected)
    assert m1["written_partitions"] > 0
    # fully committed → the fused path exits on metadata alone (0 partitions)
    m2 = lineage.write_cube(small_cube, out, expected_partitions=small_expected)
    assert m2["written_partitions"] == 0
    # drop 3 partitions from the commit → fused resume recommits exactly 3
    d = lineage._log_dir(out)
    commit = [f for f in os.listdir(d) if f.startswith("commit-")][0]
    cpath = os.path.join(d, commit)
    tbl = pq.read_table(cpath)
    shutil.rmtree(cpath)
    pq.write_table(tbl.slice(0, tbl.num_rows - 3), cpath)
    m3 = lineage.write_cube(small_cube, out, expected_partitions=small_expected)
    assert m3["written_partitions"] == 3
    assert lineage.committed_partitions(spark, out).count() == tbl.num_rows


def test_fused_zero_row_write_to_fresh_store_is_graceful(spark, small_cube, small_expected, tmp_path):
    """Expected partitions are metadata-only, so a run can legitimately
    produce ZERO cube rows for a non-empty expected set (all-nodata scenes).
    On a fresh store that used to crash schema inference in the read-back;
    it must return written_partitions=0 — and honor resume=False in the
    run metrics."""
    out = str(tmp_path / "fresh_zero")
    empty = small_cube.where(F.lit(False))
    m = lineage.write_cube(
        empty, out, resume=False, expected_partitions=small_expected
    )
    assert m["written_partitions"] == 0
    assert m["resumed"] is False
    assert lineage.committed_partitions(spark, out).count() == 0


def test_concurrent_writes_commit_the_union(spark, small_cube, small_expected, tmp_path):
    """Two concurrent write_cube calls on the SAME path with DISJOINT day
    subsets: the atomic-rename publishes and dynamic partition overwrite
    must interleave without lost updates — both commits land and
    committed_partitions is the union."""
    from concurrent.futures import ThreadPoolExecutor

    out = str(tmp_path / "concurrent")
    days = sorted(str(r[0]) for r in small_expected.select("solar_day").distinct().collect())
    assert len(days) >= 2
    half_a, half_b = days[: len(days) // 2], days[len(days) // 2 :]

    def write(day_subset):
        sub = small_cube.where(F.col("solar_day").cast("string").isin(day_subset))
        exp = small_expected.where(
            F.col("solar_day").cast("string").isin(day_subset)
        )
        return lineage.write_cube(sub, out, resume=False, expected_partitions=exp)

    with ThreadPoolExecutor(2) as pool:
        fa = pool.submit(write, half_a)
        fb = pool.submit(write, half_b)
        ma, mb = fa.result(), fb.result()
    assert ma["written_partitions"] > 0 and mb["written_partitions"] > 0
    want = {(str(r.solar_day), r.tile_y, r.tile_x) for r in small_expected.collect()}
    got = {(str(r.solar_day), r.tile_y, r.tile_x)
           for r in lineage.committed_partitions(spark, out).collect()}
    assert got == want
    assert ma["written_partitions"] + mb["written_partitions"] == len(want)
    # the data itself is complete: one row set per expected partition
    back = lineage.read_cube(spark, out)
    assert {(str(r.solar_day), r.tile_y, r.tile_x)
            for r in back.select("solar_day", "tile_y", "tile_x").distinct().collect()} == want


def _first_committed_key(spark, out):
    r = lineage.committed_partitions(spark, out).orderBy(
        "solar_day", "tile_y", "tile_x"
    ).first()
    return str(r.solar_day), r.tile_y, r.tile_x


def test_full_rewrite_never_deletes_committed_dirs(
    spark, small_cube, small_expected, tmp_path
):
    """resume=False pre-clean must be restricted to expected-MINUS-committed
    keys: a committed partition whose recompute yields ZERO rows this run
    keeps its directory and data (before the fix the dir was rmtree'd up
    front, leaving the store missing data the commit log records as
    committed — silent, permanent loss on the next resume)."""
    out = str(tmp_path / "rewrite")
    m1 = lineage.write_cube(small_cube, out, expected_partitions=small_expected)
    assert m1["written_partitions"] > 0
    day, ty, tx = _first_committed_key(spark, out)
    part_dir = os.path.join(out, f"solar_day={day}", f"tile_y={ty}", f"tile_x={tx}")
    assert os.path.isdir(part_dir)
    before = {
        (str(r.solar_day), r.band, r.tile_y, r.tile_x)
        for r in lineage.read_cube(spark, out)
        .where(
            (F.col("solar_day").cast("string") == day)
            & (F.col("tile_y") == ty)
            & (F.col("tile_x") == tx)
        )
        .collect()
    }
    assert before
    # full rewrite whose input is missing that partition's rows entirely
    sub = small_cube.where(
        ~(
            (F.col("solar_day").cast("string") == day)
            & (F.col("tile_y") == ty)
            & (F.col("tile_x") == tx)
        )
    )
    lineage.write_cube(sub, out, resume=False, expected_partitions=small_expected)
    assert os.path.isdir(part_dir), "committed dir was pre-cleaned away"
    after = {
        (str(r.solar_day), r.band, r.tile_y, r.tile_x)
        for r in lineage.read_cube(spark, out)
        .where(
            (F.col("solar_day").cast("string") == day)
            & (F.col("tile_y") == ty)
            & (F.col("tile_x") == tx)
        )
        .collect()
    }
    assert after == before


def test_fused_precleans_crash_leftovers(
    spark, small_cube, small_expected, tmp_path
):
    """An UNCOMMITTED expected partition with leftover files from a crashed
    run, whose recompute yields zero rows, must have its dir removed by the
    distributed pre-clean (otherwise the read-back would commit the crashed
    run's partial files as complete)."""
    out = str(tmp_path / "crashpc")
    r = small_expected.orderBy("solar_day", "tile_y", "tile_x").first()
    day, ty, tx = str(r.solar_day), r.tile_y, r.tile_x
    junk_dir = os.path.join(out, f"solar_day={day}", f"tile_y={ty}", f"tile_x={tx}")
    os.makedirs(junk_dir)
    with open(os.path.join(junk_dir, "part-crashed.parquet"), "wb") as f:
        f.write(b"not really parquet")
    sub = small_cube.where(
        ~(
            (F.col("solar_day").cast("string") == day)
            & (F.col("tile_y") == ty)
            & (F.col("tile_x") == tx)
        )
    )
    m = lineage.write_cube(sub, out, expected_partitions=small_expected)
    assert not os.path.exists(junk_dir), "crash leftover survived pre-clean"
    committed = {
        (str(c.solar_day), c.tile_y, c.tile_x)
        for c in lineage.committed_partitions(spark, out).collect()
    }
    assert (day, ty, tx) not in committed
    assert m["written_partitions"] == len(committed)


def test_fused_readback_tolerates_ancient_store_without_data_bytes(
    spark, small_cube, small_expected, tmp_path
):
    """A store written before data_bytes existed (payload column only, jsonl
    commit log): a fused zero-row run over it must fall back to measuring
    the plane column instead of raising AnalysisException, and return a
    graceful zero-commit."""
    import json as _json

    out = str(tmp_path / "ancient")
    (
        small_cube.withColumn("solar_day", F.col("solar_day").cast("string"))
        .write.mode("overwrite")
        .partitionBy("solar_day", "tile_y", "tile_x")
        .parquet(out)
    )
    os.makedirs(lineage._log_dir(out), exist_ok=True)
    keys = small_cube.select("solar_day", "tile_y", "tile_x").distinct().collect()
    # commit all but one key so one expected partition stays uncommitted
    # while its DAY directory exists (the scan then contains only ancient
    # files — the exact AnalysisException scenario)
    with open(os.path.join(lineage._log_dir(out), "commit-legacy.jsonl"), "w") as f:
        for r in keys[1:]:
            f.write(
                _json.dumps(
                    {"solar_day": str(r.solar_day), "tile_y": r.tile_y, "tile_x": r.tile_x}
                )
                + "\n"
            )
    empty = small_cube.where(F.lit(False))
    m = lineage.write_cube(empty, out, expected_partitions=small_expected)
    assert m["written_partitions"] == 0


#: Spark jobs of one fused one-day write into a fresh store (sf0.001, one
#: band, local[8], 32 shuffle partitions): 27 when every call ran the
#: pre-clean stage and counted the commit table with Spark, 20 since the
#: pre-clean is skipped on fresh days and the bookkeeping is driver-side
FUSED_DAY_MAX_JOBS = 20


@pytest.fixture(scope="module")
def first_day(small_expected):
    return str(small_expected.agg(F.min("solar_day")).first()[0])


def _day(df, day):
    return df.where(F.col("solar_day") == F.lit(day).cast("date"))


def test_zero_partition_calls_report_elapsed_without_run_record(
    spark, small_cube, small_expected, first_day, tmp_path
):
    """A call that commits nothing still reports the time it took, and
    appends no runs.jsonl line: a fully committed fused resume, and a
    zero-row write into a fresh store."""
    cube, exp = _day(small_cube, first_day), _day(small_expected, first_day)
    out = str(tmp_path / "committed")
    assert lineage.write_cube(cube, out, expected_partitions=exp)["written_partitions"] > 0
    runs_before = lineage.runs(out)
    assert len(runs_before) == 1
    m = lineage.write_cube(cube, out, expected_partitions=exp)
    assert m["written_partitions"] == 0 and m["elapsed_sec"] > 0
    assert lineage.runs(out) == runs_before
    fresh = str(tmp_path / "zero_rows")
    m = lineage.write_cube(cube.where(F.lit(False)), fresh, expected_partitions=exp)
    assert m["written_partitions"] == 0 and m["elapsed_sec"] > 0
    assert lineage.runs(fresh) == []


def test_fused_preclean_runs_only_when_a_day_dir_exists(
    spark, small_cube, small_expected, first_day, tmp_path, monkeypatch
):
    """Crash leftovers of (d, y, x) can only live under solar_day=d: a write
    whose day directories do not exist skips the pre-clean stage, and one
    into an existing day directory runs it over at most defaultParallelism
    partitions (not the key set's shuffle partitions)."""
    calls = []
    real = lineage._preclean_distributed

    def spy(keys, path):
        calls.append(keys.rdd.getNumPartitions())
        return real(keys, path)

    monkeypatch.setattr(lineage, "_preclean_distributed", spy)
    cube, exp = _day(small_cube, first_day), _day(small_expected, first_day)
    out = str(tmp_path / "spy")
    assert lineage.write_cube(cube, out, expected_partitions=exp)["written_partitions"] > 0
    assert calls == []
    m = lineage.write_cube(cube, out, resume=False, expected_partitions=exp)
    assert m["written_partitions"] > 0
    assert len(calls) == 1
    assert 1 <= calls[0] <= spark.sparkContext.defaultParallelism


def test_fused_one_day_write_job_count(spark, small_cube, small_expected, first_day, tmp_path):
    """Plan-regression guard: the Spark jobs one fused one-day call launches
    (its job group, read through statusTracker) do not grow back."""
    sc = spark.sparkContext
    group = "test-fused-one-day-write"
    cube, exp = _day(small_cube, first_day), _day(small_expected, first_day)
    sc.setJobGroup(group, "fused one-day write_cube")
    try:
        m = lineage.write_cube(cube, str(tmp_path / "jobs"), expected_partitions=exp)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert m["written_partitions"] > 0
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= FUSED_DAY_MAX_JOBS, n_jobs
