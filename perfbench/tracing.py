"""Spans around calls into the program, measured from the outside.

A span sets a unique Spark job group on entry. On exit it waits for the
listener bus to drain, then reads the group's jobs and their stages from the
application status store (``statusStore().lastStageAttempt``), which Spark
keeps even with the UI disabled. Spans nest: a parent's counters include its
children's jobs. Records stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.records: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0

    @contextlib.contextmanager
    def span(self, name: str):
        self._seq += 1
        group = f"{name}#{self._seq}"
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent["group"] if parent else None,
               "group": group, "child_jobs": []}
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            wall = time.perf_counter() - t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            own = list(self.sc.statusTracker().getJobIdsForGroup(group))
            job_ids = own + rec.pop("child_jobs")
            if parent is not None:
                parent["child_jobs"].extend(job_ids)
            rec.update(self._stage_counters(job_ids, wall))
            self.records.append(rec)

    def _stage_counters(self, job_ids: list[int], wall: float) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        run_ms = cpu_ns = shuffle = result = output = spill = 0
        biggest = None
        seen = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage skipped by shuffle reuse never ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                run = st.executorRunTime()
                run_ms += run
                cpu_ns += st.executorCpuTime()
                shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
                result += st.resultSize()
                output += st.outputBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if biggest is None or run > biggest[0]:
                    biggest = (run, sid, st.attemptId())
        return {
            "wall_s": wall,
            "jobs": len(job_ids),
            "executor_cpu_s": cpu_ns / 1e9,
            "idle_s": wall - run_ms / 1000.0 / self.cores,
            "shuffle_bytes": shuffle,
            "result_bytes": result,
            "output_bytes": output,
            "spill_bytes": spill,
            "task_skew": self._skew(store, biggest),
        }

    def _skew(self, store, biggest) -> float:
        """Largest over median task run time in the span's biggest stage."""
        if biggest is None:
            return 1.0
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        opt = store.taskSummary(biggest[1], biggest[2], q)
        if not opt.isDefined():
            return 1.0
        run = opt.get().executorRunTime()
        return run.apply(1) / max(run.apply(0), 1.0)


def summarize(records: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: counters summed over the span's calls in one pass."""
    out: dict[str, dict[str, float]] = {}
    for r in records:
        agg = out.setdefault(r["name"], {})
        for k, v in r.items():
            if isinstance(v, (int, float)):
                agg[k] = max(agg.get(k, v), v) if k == "task_skew" else agg.get(k, 0) + v
    return out


def launch_floor_ms(spark, reps: int = 5) -> float:
    """Median wall time of a one-task job: the scheduler's launch floor, a
    canary for a loaded machine."""
    sc = spark.sparkContext
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        sc.parallelize([0], 1).count()
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), polled from /proc. Each process counts
    its proportional set size, so pages that forked Python workers share with
    their daemon count once: summed plain RSS counts them once per worker
    and jumped by up to 1.2 GB between otherwise equal runs."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def _sample(self) -> None:
        children = process_children()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += _pss_bytes(pid)
            todo.extend(children.get(pid, ()))
        self.peak_bytes = max(self.peak_bytes, total)


def process_children() -> dict[int, list[int]]:
    """Parent pid -> pids of its children, for every process in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:  # the process exited between listing and reading
            continue
        children.setdefault(ppid, []).append(int(entry))
    return children


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process exited between listing and reading
        pass
    return 0
