"""The benchmark's workloads. Each one:

- ``prepare(seed)``: generate inputs and reference results (cached per seed,
  not timed);
- ``stage(spark)``: load the inputs into Spark (timed as set-up);
- ``run_pass(spark, tracer)``: one closed-loop pass from staged input to a
  verified result; returns True when every output matched its reference.

With a tracer, each public call gets a span whose input was materialized
before it opens and whose output is forced inside it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import gen
import oracles

MATRIX_COLS = oracles.MATRIX_COLS


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _force(tracer, df, keep: list):
    """Traced passes materialize each call's output inside its span (and keep
    it cached as the next call's input); untraced passes stay lazy."""
    if tracer is None:
        return df
    df = df.persist()
    df.count()
    keep.append(df)
    return df


def _release(keep: list) -> None:
    for df in keep:
        df.unpersist()
    keep.clear()


class Backfill:
    """Seeded transcripts -> checkpointed per-cell featurize + as-of matrix
    (main.py's default pipeline) -> contingency-cube scores -> mRMR."""

    name = "backfill"
    n_buckets = 2

    def __init__(self, work: str) -> None:
        self.work = work
        self.pass_no = 0
        self.checksums = None

    def prepare(self, seed: int) -> None:
        self.path = gen.transcripts(seed)
        self.ref = oracles.backfill(self.path, os.path.dirname(self.path))
        order = np.argsort(self.ref["key"], kind="stable")
        self.ref_rows = (self.ref["key"][order], self.ref["X"][order], self.ref["y"][order])

    def stage(self, spark) -> None:
        self.staged = spark.read.parquet(self.path).persist()
        self.staged.count()

    def run_pass(self, spark, tracer=None) -> bool:
        from fastselect_spark.featurize import featurize_transcripts
        from fastselect_spark.main import build_matrix
        from fastselect_spark.runtime.checkpoint import run_resumable_backfill
        from fastselect_spark.selection import scores_from_cube
        from fastselect_spark.selection.mrmr import mrmr_greedy

        self.pass_no += 1
        out = os.path.join(self.work, f"backfill-{self.pass_no}")
        keep: list = []

        def pipeline(part):
            with _span(tracer, "featurize.featurize_transcripts"):
                feat = _force(tracer, featurize_transcripts(part), keep)
            with _span(tracer, "featurize.asof_join"):
                return _force(tracer, build_matrix(feat), keep)

        with _span(tracer, "runtime.run_resumable_backfill") as rec:
            run_resumable_backfill(
                spark, lambda s: self.staged, pipeline, out, n_buckets=self.n_buckets
            )
        _release(keep)
        entries = []
        for p in sorted(glob.glob(os.path.join(out, "_manifest", "*.json"))):
            with open(p) as f:
                entries.append(json.load(f))
        if rec is not None:
            rec["cell_wall_s"] = float(np.median([e["metrics"]["wall_sec"] for e in entries]))
        matrix = spark.read.parquet(
            *[os.path.join(out, f"bucket={b}") for b in range(self.n_buckets)]
        )
        with _span(tracer, "selection.scores_from_cube"):
            scores = scores_from_cube(matrix, MATRIX_COLS, "label")
        with _span(tracer, "selection.mrmr_greedy"):
            picked = mrmr_greedy(scores["relevance"], scores["redundancy"], 3, "MID")
        ok = self._check(out, entries, scores, picked)
        shutil.rmtree(out, ignore_errors=True)
        return ok

    def _check(self, out, entries, scores, picked) -> bool:
        checksums = [(e["cell"], e["n_rows"], e["checksum"]) for e in entries]
        if self.checksums is None:
            self.checksums = checksums
        got = pq.read_table(
            [p for p in glob.glob(os.path.join(out, "bucket=*", "*.parquet"))],
            columns=["conv_id", "turn_idx", *MATRIX_COLS, "label"],
        ).to_pandas()
        key = (got["conv_id"] + ":" + got["turn_idx"].astype(str)).to_numpy(dtype=str)
        order = np.argsort(key, kind="stable")
        X = got[MATRIX_COLS].to_numpy(dtype=np.float64)[order]
        ref_key, ref_X, ref_y = self.ref_rows
        ref = self.ref
        return bool(
            checksums == self.checksums
            and len(checksums) == self.n_buckets
            and np.array_equal(key[order], ref_key)
            and np.array_equal(X, ref_X, equal_nan=True)
            and np.array_equal(got["label"].to_numpy()[order], ref_y)
            and np.allclose(scores["chi2"], ref["chi2"], rtol=1e-9, equal_nan=True)
            and np.allclose(scores["relevance"], ref["relevance"], rtol=1e-9, atol=1e-12)
            and np.allclose(scores["redundancy"], ref["redundancy"], rtol=1e-9, atol=1e-12)
            and list(picked) == list(ref["picked"])
        )


class CorpusDedup:
    """main.py's ``--pipeline corpus`` chain over seeded documents with
    planted duplicates, then IVF k-means + SemDeDup over seeded embeddings."""

    name = "corpus_dedup"
    threshold = 0.9

    def __init__(self, work: str) -> None:
        self.work = work
        self.pass_no = 0
        self.centroids = None

    def prepare(self, seed: int) -> None:
        self.docs_path = gen.documents(seed)
        self.emb_path = gen.embeddings(seed)
        self.ref = oracles.corpus(self.docs_path, os.path.dirname(self.docs_path))
        self.vecs = np.stack(pq.read_table(self.emb_path)["embedding"].to_numpy(zero_copy_only=False))

    def stage(self, spark) -> None:
        self.docs = spark.read.parquet(self.docs_path).persist()
        self.emb = spark.read.parquet(self.emb_path).persist()
        self.docs.count()
        self.emb.count()

    def run_pass(self, spark, tracer=None) -> bool:
        from pyspark.sql import functions as F

        from fastselect_spark.corpus import quality_filter
        from fastselect_spark.dedup import (
            connected_components,
            dedup_exact,
            minhash_near_duplicates,
            remove_duplicate_spans,
            semantic_dedup,
        )
        from fastselect_spark.similarity import train_ivf_centroids
        from fastselect_spark.text import clean_text, redact_pii

        self.pass_no += 1
        out = os.path.join(self.work, f"corpus-{self.pass_no}")
        keep: list = []
        docs = self.docs
        docs.count()  # main.py counts the input, exact, near and filtered stages
        with _span(tracer, "text.clean_text"):
            cleaned = _force(
                tracer,
                clean_text(docs, "text").drop("text").withColumnRenamed("text_clean", "text"),
                keep,
            )
        with _span(tracer, "text.redact_pii"):
            red = _force(
                tracer,
                redact_pii(cleaned).select(
                    "doc_id", F.col("text_redacted").alias("text"), "n_pii", "lang", "source"
                ),
                keep,
            )
        with _span(tracer, "dedup.remove_duplicate_spans"):
            sd = _force(
                tracer,
                remove_duplicate_spans(red, span_tokens=8).withColumnRenamed(
                    "text_dedup", "text_final"
                ),
                keep,
            )
        with _span(tracer, "dedup.dedup_exact"):
            exact = _force(tracer, dedup_exact(sd, text_col="text_final", id_col="doc_id"), keep)
            exact.count()
        base = exact.select("doc_id", F.col("text_final").alias("text")).persist()
        with _span(tracer, "dedup.minhash_near_duplicates"):
            pairs = minhash_near_duplicates(base, threshold=0.5)
        with _span(tracer, "dedup.connected_components"):
            comp = _force(tracer, connected_components(pairs), keep)
        dropped = comp.where(F.col("doc_id") != F.col("comp")).select("doc_id")
        near = _force(tracer, base.join(dropped, "doc_id", "left_anti"), keep)
        near.count()
        with _span(tracer, "corpus.quality_filter"):
            qf = _force(tracer, quality_filter(near), keep)
            qf.count()
        base.unpersist()
        kept = qf.join(red.select("doc_id", "lang", "source", "n_pii"), "doc_id")
        kept.write.mode("overwrite").parquet(os.path.join(out, "kept"))
        _release(keep)

        with _span(tracer, "similarity.train_ivf_centroids"):
            cents = train_ivf_centroids(self.emb, n_cells=gen.N_GROUPS)
        with _span(tracer, "dedup.semantic_dedup"):
            verdicts = semantic_dedup(
                self.emb, threshold=self.threshold, n_clusters=gen.N_GROUPS, centroids=cents
            ).toPandas()
        ok = self._check(out, cents, verdicts)
        shutil.rmtree(out, ignore_errors=True)
        return ok

    def _check(self, out, cents, verdicts) -> bool:
        if self.centroids is None:
            self.centroids = cents
        got = np.sort(pq.read_table(os.path.join(out, "kept"), columns=["doc_id"])["doc_id"].to_numpy())
        verdicts = verdicts.sort_values("vec_id")
        want_sem = oracles.semdedup_kept(self.vecs, cents, self.threshold)
        return bool(
            np.array_equal(got, self.ref["kept"])
            and np.array_equal(cents, self.centroids)
            and np.allclose(np.linalg.norm(cents, axis=1), 1.0)
            and np.array_equal(verdicts["vec_id"].to_numpy(), np.arange(len(self.vecs)))
            and np.array_equal(verdicts["kept"].to_numpy(dtype=bool), want_sem)
        )


WORKLOADS = {w.name: w for w in (Backfill, CorpusDedup)}
