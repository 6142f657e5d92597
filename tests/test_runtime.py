"""Tier-4 tests (SURVEY.md §5.2): determinism and kill-resume for the
checkpointed backfill."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from fastselect_spark.data.transcripts import TRANSCRIPT_SCHEMA, generate_transcripts_pandas
from fastselect_spark.featurize import featurize_transcripts
from fastselect_spark.runtime.checkpoint import (
    BackfillManifest,
    bucket_of,
    content_checksum,
    count_and_checksum,
    run_resumable_backfill,
)

N_BUCKETS = 6


@pytest.fixture()
def source(spark):
    pdf = generate_transcripts_pandas(n_convs=60, seed=42)

    def src(s):
        return s.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)

    return src


def _pipeline(df):
    return featurize_transcripts(df).select(
        "conv_id", "turn_idx", "turn_gap_s", "session_id", "n_tokens", "label"
    )


def test_backfill_deterministic(spark, source, tmp_path):
    """Same input twice -> identical per-cell checksums and row counts."""
    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    s1 = run_resumable_backfill(spark, source, _pipeline, out1, N_BUCKETS)
    s2 = run_resumable_backfill(spark, source, _pipeline, out2, N_BUCKETS)
    assert s1["rows"] == s2["rows"] > 0
    m1 = {e["cell"]: e for e in BackfillManifest(out1).entries()}
    m2 = {e["cell"]: e for e in BackfillManifest(out2).entries()}
    assert set(m1) == set(range(N_BUCKETS))
    for c in m1:
        assert m1[c]["checksum"] == m2[c]["checksum"]
        assert m1[c]["n_rows"] == m2[c]["n_rows"]
        assert m1[c]["metrics"]["wall_sec"] > 0


def test_backfill_covers_all_rows(spark, source, tmp_path):
    out = str(tmp_path / "full")
    run_resumable_backfill(spark, source, _pipeline, out, N_BUCKETS)
    written = spark.read.parquet(*[f"{out}/bucket={b}" for b in range(N_BUCKETS)])
    direct = _pipeline(source(spark))
    assert written.count() == direct.count()
    assert content_checksum(written.select(*direct.columns)) == content_checksum(direct)


def test_backfill_kill_and_resume(spark, source, tmp_path):
    """Fail at cell 3 -> earlier cells committed; resume skips them and the
    final result is identical to an uninterrupted run."""
    out = str(tmp_path / "resume")
    calls = {"n": 0}

    def failing_pipeline(df):
        calls["n"] += 1
        if calls["n"] == 4:  # fourth cell processed -> simulated crash
            raise RuntimeError("simulated executor loss")
        return _pipeline(df)

    with pytest.raises(RuntimeError, match="simulated"):
        run_resumable_backfill(spark, source, failing_pipeline, out, N_BUCKETS)
    done_after_crash = [e["cell"] for e in BackfillManifest(out).entries()]
    assert done_after_crash == [0, 1, 2]

    calls2 = {"n": 0}

    def counting_pipeline(df):
        calls2["n"] += 1
        return _pipeline(df)

    summary = run_resumable_backfill(spark, source, counting_pipeline, out, N_BUCKETS)
    assert summary["cells_skipped"] == 3
    assert summary["cells_run"] == 3
    assert calls2["n"] == 3  # completed cells were NOT recomputed

    # result identical to an uninterrupted run
    ref = str(tmp_path / "ref")
    run_resumable_backfill(spark, source, _pipeline, ref, N_BUCKETS)
    for b in range(N_BUCKETS):
        a = spark.read.parquet(f"{out}/bucket={b}")
        r = spark.read.parquet(f"{ref}/bucket={b}")
        assert content_checksum(a) == content_checksum(r)


def test_manifest_torn_write_recomputed(spark, source, tmp_path):
    out = str(tmp_path / "torn")
    run_resumable_backfill(spark, source, _pipeline, out, N_BUCKETS)
    # corrupt one manifest entry -> that cell must be recomputed
    path = os.path.join(out, "_manifest", "cell_00002.json")
    with open(path, "w") as f:
        f.write('{"cell": 2, "status"')  # torn JSON
    summary = run_resumable_backfill(spark, source, _pipeline, out, N_BUCKETS)
    assert summary["cells_run"] == 1 and summary["cells_skipped"] == N_BUCKETS - 1
    with open(path) as f:
        assert json.load(f)["status"] == "done"


def _checksums(out):
    return {e["cell"]: (e["n_rows"], e["checksum"]) for e in BackfillManifest(out).entries()}


def test_pipeline_runs_on_caller_thread_in_cell_order(spark, source, tmp_path):
    """Only a cell's actions leave the caller's thread: ``pipeline`` is
    called there, once per cell, in ascending cell order."""
    calls = []

    def recording_pipeline(df):
        (cell,) = {r[0] for r in df.select(bucket_of("conv_id", N_BUCKETS)).collect()}
        calls.append((threading.get_ident(), cell))
        return _pipeline(df)

    run_resumable_backfill(spark, source, recording_pipeline, str(tmp_path / "o"), N_BUCKETS)
    assert [t for t, _ in calls] == [threading.get_ident()] * N_BUCKETS
    assert [c for _, c in calls] == list(range(N_BUCKETS))


def test_cell_jobs_inherit_callers_job_group(spark, source, tmp_path):
    """The write and check jobs run on worker threads but carry the
    caller's job group (``_pipeline`` is lazy, so every job in the group
    comes from a worker)."""
    sc = spark.sparkContext
    group = "backfill-inherit-test"
    sc.setJobGroup(group, "backfill under a caller's job group")
    try:
        run_resumable_backfill(spark, source, _pipeline, str(tmp_path / "o"), N_BUCKETS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2 * N_BUCKETS


def test_failure_in_cell_actions_keeps_other_cells(spark, source, tmp_path):
    """A cell whose frame fails at evaluation (a UDF raising on that
    bucket, so ``pipeline`` itself returns): the error propagates, the
    cell in flight beside it commits, the failed cell has no manifest
    entry, and a re-run matches an uninterrupted run."""
    fail_cell = 1

    @F.udf("long")
    def fail_on_bucket(b):
        if b == fail_cell:
            raise RuntimeError("simulated cell failure")
        return b

    def failing_pipeline(df):
        return _pipeline(df).withColumn("b", fail_on_bucket(bucket_of("conv_id", N_BUCKETS)))

    def good_pipeline(df):
        return _pipeline(df).withColumn("b", bucket_of("conv_id", N_BUCKETS))

    out = str(tmp_path / "fail")
    with pytest.raises(Exception, match="simulated cell failure"):
        run_resumable_backfill(spark, source, failing_pipeline, out, N_BUCKETS)
    done = set(_checksums(out))
    assert 0 in done and fail_cell not in done

    summary = run_resumable_backfill(spark, source, good_pipeline, out, N_BUCKETS)
    assert summary["cells_skipped"] == len(done)
    assert summary["cells_run"] == N_BUCKETS - len(done)
    ref = str(tmp_path / "ref")
    run_resumable_backfill(spark, source, good_pipeline, ref, N_BUCKETS)
    assert _checksums(out) == _checksums(ref)
    assert set(_checksums(ref)) == set(range(N_BUCKETS))


def test_count_and_checksum_matches_separate_actions(spark):
    df = spark.createDataFrame(
        [(1, "a", None), (2, None, 1.5), (None, "c", float("nan")), (None, None, None)],
        "k long, t string, v double",
    )
    assert count_and_checksum(df) == (df.count(), content_checksum(df))
    # pinned: committed manifests are compared against fresh checksums
    assert content_checksum(df) == 1709316795646237558
    assert count_and_checksum(df.where("k > 100")) == (0, 0)


def test_backfill_empty_cells(spark, source, tmp_path):
    """More buckets than conversations: empty cells commit n_rows 0 and
    checksum 0, and their read-back equals the separate actions."""
    ids = [r[0] for r in source(spark).select("conv_id").distinct().orderBy("conv_id").limit(3).collect()]

    def few(s):
        return source(s).where(F.col("conv_id").isin(ids))

    out = str(tmp_path / "sparse")
    summary = run_resumable_backfill(spark, few, _pipeline, out, N_BUCKETS)
    entries = _checksums(out)
    assert set(entries) == set(range(N_BUCKETS))
    empty = [c for c, (n, _) in entries.items() if n == 0]
    assert len(empty) >= N_BUCKETS - len(ids)
    assert all(entries[c] == (0, 0) for c in empty)
    assert summary["rows"] == sum(n for n, _ in entries.values()) > 0
    written = spark.read.parquet(f"{out}/bucket={empty[0]}")
    assert count_and_checksum(written) == (written.count(), content_checksum(written)) == (0, 0)
