#!/usr/bin/env python3
"""Benchmark of fastselect_spark, driven from outside the package.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Runs one workload on ``local[N]`` (N = usable cores) in this fresh process:
one set-up (JVM launch, session, pre-warm, staging), one cold pass, then
closed-loop warm passes for ``--seconds``. Every
pass is checked against references computed once per seed by independent
code. The last stdout line is one JSON object; with ``--trace 0`` its
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones from
a run that alternates untraced and traced passes. ``--workload all`` runs
every workload, each in its own process, and prints a table.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

SPANS = {
    "backfill": [
        "featurize.featurize_transcripts",
        "featurize.asof_join",
        "runtime.run_resumable_backfill",
        "selection.scores_from_cube",
    ],
    "corpus_dedup": [
        "text.clean_text",
        "text.redact_pii",
        "dedup.remove_duplicate_spans",
        "dedup.dedup_exact",
        "dedup.minhash_near_duplicates",
        "dedup.connected_components",
        "corpus.quality_filter",
        "similarity.train_ivf_centroids",
        "dedup.semantic_dedup",
    ],
}
COUNTER_UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "executor_cpu_s": "s",
    "idle_s": "s",
    "shuffle_bytes": "bytes",
    "result_bytes": "bytes",
}
EXTRA = {  # (span, counter) -> unit, beyond the six every span records
    ("featurize.featurize_transcripts", "task_skew"): "ratio",
    ("featurize.asof_join", "task_skew"): "ratio",
    ("runtime.run_resumable_backfill", "output_bytes"): "bytes",
    ("runtime.run_resumable_backfill", "cell_wall_s"): "s",
    ("selection.mrmr_greedy", "wall_s"): "s",  # driver-only: no Spark jobs
}
RUN_LEVEL = {  # per-layer metrics of the run rather than of one span
    "runtime.get_spark.wall_s": "s",
    "spill_bytes": "bytes",
    "launch_floor_ms": "ms",
    "traced_pass_s": "s",
    "tracing_overhead_s": "s",
}
END_TO_END = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    out = {}
    for spans in SPANS.values():
        for s in spans:
            for c, u in COUNTER_UNITS.items():
                out[f"{s}.{c}"] = u
    for (s, c), u in EXTRA.items():
        out[f"{s}.{c}"] = u
    out.update(RUN_LEVEL)
    return out


def _metrics(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def _configure(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and put
    the repo on the driver's and the Python workers' import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # A small heap: on a VM, first-touch page faults of a growing 8g heap
    # made passes both slower and noisier.
    os.environ["FASTSELECT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that builds the driver command writes /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path[:0] = [REPO, HERE]


def _spark(work: str):
    from fastselect_spark.runtime.session import get_spark

    n = len(os.sched_getaffinity(0))
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=2 * n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        },
    )


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants: a Python
    worker whose JVM has exited is re-parented here, not to init, so
    ``_stop_all`` can wait for it."""
    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _stop_all(grace_s: float = 30.0) -> None:
    """Stop the session and its JVM, then wait until every process this
    run started has ended; the ones still running after ``grace_s`` are
    killed. ``SparkContext.stop`` alone leaves the JVM running until it
    notices this process is gone, after the run has exited."""
    from tracing import process_children

    pyspark = sys.modules.get("pyspark")
    if pyspark is not None:
        sc_cls = pyspark.SparkContext
        try:
            if sc_cls._active_spark_context is not None:
                sc_cls._active_spark_context.stop()
            gw = sc_cls._gateway
            if gw is not None:
                gw.shutdown()
                gw.proc.stdin.close()  # the JVM exits when its stdin closes
        except Exception:
            traceback.print_exc()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no children left, running or exited
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in process_children().get(os.getpid(), ()):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(child, signal.SIGKILL)
        time.sleep(0.05)


def _timed_pass(wl, spark, tracer=None) -> tuple[float, bool]:
    t0 = time.perf_counter()
    try:
        ok = wl.run_pass(spark, tracer)
    except Exception:  # a failed pass counts in failed_ops_ratio
        traceback.print_exc()
        ok = False
    return time.perf_counter() - t0, ok


def run_untraced(wl, work: str, seconds: float) -> tuple[dict, dict, int, int]:
    from tracing import RssSampler, launch_floor_ms

    # One set-up per run: a new session inside an already running JVM costs
    # a fifth of the first one, so repeating it would hide the JVM launch.
    t0 = time.perf_counter()
    spark = _spark(work)
    wl.stage(spark)
    setup = time.perf_counter() - t0
    cold, ok = _timed_pass(wl, spark)
    attempted, failed = 1, int(not ok)
    floor = launch_floor_ms(spark)
    warm = []
    with RssSampler() as rss:
        end = time.perf_counter() + seconds
        while not warm or time.perf_counter() < end:
            dt, ok = _timed_pass(wl, spark)
            warm.append(dt)
            attempted += 1
            failed += int(not ok)
    values = {
        "setup_s": setup,
        "pass_s": statistics.median(warm),
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    # cold_pass_s is one sample per process; over sets of ten runs on a 4-core
    # VM its spread ranged from 0.09 to 0.42, too wide for a bound, so it is
    # reported here but not gated.
    info = {
        "cold_pass_s": cold,
        "warm_passes_s": warm,
        "launch_floor_ms": floor,
        "failed_ops_ratio": failed / attempted,
    }
    return values, info, attempted, failed


def run_traced(wl, work: str, seconds: float) -> tuple[dict, dict, int, int]:
    from tracing import Tracer, launch_floor_ms, summarize

    t0 = time.perf_counter()
    spark = _spark(work)
    get_spark_s = time.perf_counter() - t0
    wl.stage(spark)
    _, ok = _timed_pass(wl, spark)
    attempted, failed = 1, int(not ok)
    floor = launch_floor_ms(spark)
    plain, traced, layers = [], [], []
    end = time.perf_counter() + seconds
    while not traced or time.perf_counter() < end:
        dt, ok = _timed_pass(wl, spark)
        plain.append(dt)
        attempted += 1
        failed += int(not ok)
        tracer = Tracer(spark)
        with tracer.span("pass"):  # every job of the pass, for spill_bytes
            dt, ok = _timed_pass(wl, spark, tracer)
        traced.append(dt)
        attempted += 1
        failed += int(not ok)
        layers.append(summarize(tracer.records))

    units = per_layer_units()
    values = {k: 0.0 for k in units}  # the other workload's spans read 0
    for name in units:
        if name in RUN_LEVEL:
            continue
        span, counter = name.rsplit(".", 1)
        samples = [p[span][counter] for p in layers if span in p]
        if samples:
            values[name] = float(statistics.median(samples))
    values["runtime.get_spark.wall_s"] = get_spark_s
    values["spill_bytes"] = float(statistics.median(p["pass"]["spill_bytes"] for p in layers))
    values["launch_floor_ms"] = floor
    values["traced_pass_s"] = statistics.median(traced)
    values["tracing_overhead_s"] = statistics.median(traced) - statistics.median(plain)
    info = {"untraced_passes_s": plain, "traced_passes_s": traced}
    return values, info, attempted, failed


def run_all(args) -> int:
    """Each workload in its own fresh process; prints one row per workload."""
    rows = []
    for name in SPANS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr)
            return proc.returncode
        lines = proc.stdout.strip().splitlines()
        res, info = json.loads(lines[-1]), json.loads(lines[-2])
        rows.append((name, res, info))
    cols = [*END_TO_END, "cold_pass_s", "failed_ops_ratio"]
    print(f"{'workload':<14}" + "".join(f"{k:>18}" for k in cols))
    for name, res, info in rows:
        cells = [f"{res['metrics'][k]['value']:.4g} {u}" for k, u in END_TO_END.items()]
        cells += [f"{info['cold_pass_s']:.4g} s", f"{info['failed_ops_ratio']:.4g}"]
        print(f"{name:<14}" + "".join(f"{c:>18}" for c in cells))
    return 0 if all(r["correct"] for _, r, _ in rows) else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*SPANS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(REPO, "fastselect_spark", "__init__.py")):
        print(f"fastselect_spark package not found under {REPO}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _adopt_orphans()
    try:
        _configure(work)
        from workloads import WORKLOADS

        wl = WORKLOADS[args.workload](work)
        wl.prepare(args.seed)
        runner = run_traced if args.trace else run_untraced
        values, info, attempted, failed = runner(wl, work, args.seconds)
    finally:
        _stop_all()
        shutil.rmtree(work, ignore_errors=True)
    units = per_layer_units() if args.trace else END_TO_END
    info.update(workload=args.workload, seed=args.seed, trace=args.trace)
    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": _metrics(values, units),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
