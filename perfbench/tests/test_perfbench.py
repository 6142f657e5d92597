"""Tests of the benchmark's own code: BENCHMARK.json agrees with what
run.py emits, generators are pure functions of the seed, span records keep
their schema, and the traced counters that must repeat do repeat.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import uuid

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import gen  # noqa: E402
import run  # noqa: E402

RECORD_KEYS = {
    "name", "parent", "group", "wall_s", "jobs", "executor_cpu_s", "idle_s",
    "shuffle_bytes", "result_bytes", "output_bytes", "spill_bytes", "task_skew",
}


def _run(*args: str, cwd: str = REPO) -> subprocess.CompletedProcess:
    """One run of the benchmark; asserts it left no process behind. Output
    goes to files, not pipes: reading a pipe to its end would wait for every
    process that inherited it, a left-over JVM included."""
    mark = f"perfbench-test-{uuid.uuid4().hex}"
    cmd = [sys.executable, os.path.join(HERE, "run.py"), *args]
    env = {**os.environ, "PERFBENCH_TEST_MARK": mark}
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        code = subprocess.run(cmd, cwd=cwd, env=env, stdout=out, stderr=err, timeout=600).returncode
        assert _processes_with(mark) == []
        out.seek(0)
        err.seek(0)
        return subprocess.CompletedProcess(cmd, code, out.read(), err.read())


def _processes_with(mark: str) -> list[int]:
    """Processes whose environment carries ``mark``: the run's descendants."""
    out = []
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if mark.encode() in f.read():
                    out.append(int(entry))
        except (OSError, ValueError):
            continue
    return out


def test_benchmark_json_matches_run():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} == set(run.SPANS)


def test_generators_are_pure_functions_of_the_seed(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "CACHE_DIR", str(tmp_path))
    for make in (gen.transcripts, gen.documents, gen.embeddings):
        first = pq.read_table(make(5))
        shutil.rmtree(tmp_path)
        assert pq.read_table(make(5)).equals(first)
        assert not pq.read_table(make(6)).equals(first)
    assert pq.read_table(gen.transcripts(5)).num_rows == gen.N_TURNS


def test_span_record_schema(tmp_path):
    work = str(tmp_path)
    run._configure(work)
    from tracing import Tracer, summarize

    spark = run._spark(work)
    try:
        tracer = Tracer(spark)
        with tracer.span("outer"):
            with tracer.span("inner"):
                spark.range(1000, numPartitions=4).selectExpr("id % 7 AS k").groupBy(
                    "k"
                ).count().collect()
            spark.range(10).count()
    finally:
        run._stop_all()
    inner, outer = tracer.records
    assert set(inner) == RECORD_KEYS and set(outer) == RECORD_KEYS
    assert (inner["name"], inner["parent"]) == ("inner", outer["group"])
    assert outer["parent"] is None
    assert outer["jobs"] > inner["jobs"] >= 1
    assert inner["shuffle_bytes"] > 0 and inner["result_bytes"] > 0
    assert outer["wall_s"] >= inner["wall_s"] > 0
    assert set(summarize(tracer.records)) == {"inner", "outer"}


def test_traced_counters_repeat_across_runs():
    """jobs, shuffle bytes and the backfill's output bytes are counts of
    deterministic work: two fresh traced runs of one seed must agree."""
    results = []
    for _ in range(2):
        proc = _run("--workload", "backfill", "--seed", "3", "--seconds", "1", "--trace", "1")
        assert proc.returncode == 0, proc.stderr[-2000:]
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        assert res["correct"] and res["failed"] == 0
        assert set(res["metrics"]) == set(run.per_layer_units())
        results.append({k: v["value"] for k, v in res["metrics"].items()})
    a, b = results
    repeat = [
        f"{s}.{c}" for s in run.SPANS["backfill"] for c in ("jobs", "shuffle_bytes")
    ] + ["runtime.run_resumable_backfill.output_bytes"]
    assert all(a[k] > 0 for k in repeat)
    assert {k: a[k] for k in repeat} == {k: b[k] for k in repeat}


def test_fails_without_the_program(tmp_path):
    """A directory holding only the benchmark exits non-zero, prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", "__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backfill", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
