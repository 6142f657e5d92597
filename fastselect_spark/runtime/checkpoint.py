"""Checkpointed, resumable backfill with per-partition lineage + metrics
(north_rule: "checkpoints per-partition progress with lineage + metrics for
resumable backfill").

The unit of progress is a CELL = one conv_id hash bucket (optionally
sub-sliced by time range upstream). Each cell is processed independently:
filter -> pipeline -> write ``bucket=<b>`` parquet partition -> read-back
check -> record a manifest entry ATOMICALLY (temp file + rename). On
restart, cells with a committed manifest entry are skipped, so a killed
backfill resumes where it stopped and reruns are idempotent.

Two cells are in flight at a time, so the next cell's scan and shuffle-map
stages fill the cores that the previous cell's narrow tail (final window,
write, check) leaves idle. The callback contract:

- the manifest check, ``df.where(bucket == cell)`` and ``pipeline(part)``
  run on the caller's thread, in ascending cell order;
- only the cell's actions (write, read-back check, ``manifest.commit``) run
  on a 2-worker pool, wrapped by ``inheritable_thread_target(spark)`` so
  the caller's job group, description and tags reach the cell's jobs
  (``cancelJobGroup`` and job-group accounting keep working).

The read-back check is one aggregate job (:func:`count_and_checksum`) over
the cell read with the schema just written, so no footer-inference job runs.

On a failure — ``pipeline`` raises, or a cell's actions raise — no further
cell is started, the cells in flight finish and commit, and then the first
error is re-raised. The failed cell has no manifest entry and is recomputed
on re-run.

Spark's own checkpointing is not granular enough for this (SURVEY.md §4.2);
the manifest is engine bookkeeping:

    <output_dir>/_manifest/cell_00007.json
    {"cell": 7, "status": "done", "n_rows": 12345,
     "checksum": 123456789,          # order-independent xxhash64 sum
     "attempt": 1, "lineage": {"input": ..., "n_buckets": ..., "app_id": ...},
     "metrics": {"wall_sec": 1.2, "rows_per_sec": 10287.5}}

``metrics.wall_sec`` runs from the start of the cell's ``pipeline`` call to
its commit; with two cells in flight, neighbouring cells' spans overlap, so
their sum can exceed the backfill's wall time.

Determinism contract: the checksum is a sum of per-row xxhash64 over all
output columns — independent of row order and partitioning — so two runs
over the same input must produce identical checksums (tested, Tier 4).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# cells in flight: one being built by the caller's pipeline while the one
# before it writes and checks, or two writing and checking
_IN_FLIGHT = 2


def bucket_of(col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets))


def count_and_checksum(df: DataFrame) -> tuple[int, int]:
    """Row count and :func:`content_checksum` of ``df`` in one aggregate."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in df.columns]
    # sum in decimal(38,0) — ANSI-safe against int64 overflow — then reduce
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("cs"),
    ).collect()[0]
    return int(row["n"]), int(row["cs"] or 0) % (1 << 61)


def content_checksum(df: DataFrame) -> int:
    """Order-independent content checksum: sum of per-row xxhash64 over all
    columns (null-safe via casts to string)."""
    return count_and_checksum(df)[1]


class BackfillManifest:
    def __init__(self, output_dir: str) -> None:
        self.dir = os.path.join(output_dir, "_manifest")
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, cell: int) -> str:
        return os.path.join(self.dir, f"cell_{cell:05d}.json")

    def is_done(self, cell: int) -> bool:
        p = self._path(cell)
        if not os.path.exists(p):
            return False
        try:
            with open(p) as f:
                return json.load(f).get("status") == "done"
        except (json.JSONDecodeError, OSError):
            return False  # torn write -> treat as not done, recompute

    def commit(self, cell: int, entry: dict) -> None:
        tmp = self._path(cell) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"cell": cell, "status": "done", **entry}, f)
        os.replace(tmp, self._path(cell))  # atomic on POSIX

    def entries(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.dir, name)) as f:
                    out.append(json.load(f))
        return out


def _run_cell(
    spark: SparkSession,
    manifest: BackfillManifest,
    cell: int,
    result: DataFrame,
    cell_dir: str,
    t0: float,
    lineage: dict,
) -> int:
    """A cell's actions: write, read-back check, manifest commit."""
    result.write.mode("overwrite").parquet(cell_dir)
    # read back with the schema just written: no footer-inference job
    written = spark.read.schema(result.schema).parquet(cell_dir)
    n_rows, checksum = count_and_checksum(written)
    wall = time.perf_counter() - t0
    manifest.commit(
        cell,
        {
            "n_rows": n_rows,
            "checksum": checksum,
            "attempt": 1,
            "lineage": lineage,
            "metrics": {
                "wall_sec": round(wall, 3),
                "rows_per_sec": round(n_rows / wall, 1) if wall > 0 else None,
            },
        },
    )
    return n_rows


def run_resumable_backfill(
    spark: SparkSession,
    source: Callable[[SparkSession], DataFrame],
    pipeline: Callable[[DataFrame], DataFrame],
    output_dir: str,
    n_buckets: int = 16,
    key_col: str = "conv_id",
    lineage: dict | None = None,
) -> dict:
    """Run ``pipeline`` over each conv_id-hash bucket of ``source``,
    checkpointing per-cell progress. Returns a summary dict.

    Completed cells (committed manifest entries) are skipped on re-run.
    Up to two cells are in flight; see the module docstring for the
    callback contract and the failure behaviour.
    """
    manifest = BackfillManifest(output_dir)
    summary = {"cells_total": n_buckets, "cells_skipped": 0, "cells_run": 0, "rows": 0}
    cell_lineage = {
        "n_buckets": n_buckets,
        "key_col": key_col,
        "app_id": spark.sparkContext.applicationId,
        **(lineage or {}),
    }
    # touched on the caller's thread only; workers share no state
    in_flight: list[Future] = []
    errors: list[BaseException] = []

    def settle(keep: int) -> None:
        """Harvest finished cells, waiting until at most ``keep`` remain."""
        while True:
            for fut in [f for f in in_flight if f.done()]:
                in_flight.remove(fut)
                try:
                    summary["rows"] += fut.result()
                    summary["cells_run"] += 1
                except BaseException as e:  # re-raised below
                    errors.append(e)
            if len(in_flight) <= keep:
                return
            wait(in_flight, return_when=FIRST_COMPLETED)

    df = source(spark)
    with ThreadPoolExecutor(max_workers=_IN_FLIGHT) as pool:
        try:
            for cell in range(n_buckets):
                if manifest.is_done(cell):
                    summary["cells_skipped"] += 1
                    continue
                # the cell built below is in flight too
                settle(_IN_FLIGHT - 1)
                if errors:
                    break
                t0 = time.perf_counter()
                part = df.where(bucket_of(key_col, n_buckets) == cell)
                result = pipeline(part)
                cell_dir = os.path.join(output_dir, f"bucket={cell}")
                # wrapped here, after pipeline returned: the caller's job
                # group, description and tags as they stand now reach the
                # cell's jobs
                actions = inheritable_thread_target(spark)(_run_cell)
                in_flight.append(
                    pool.submit(
                        actions, spark, manifest, cell, result, cell_dir, t0, cell_lineage
                    )
                )
        except BaseException as e:  # re-raised below
            errors.append(e)
        settle(0)
    if errors:
        raise errors[0]
    return summary
