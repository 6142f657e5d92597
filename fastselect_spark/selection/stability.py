"""Feature-selection stability analysis — how much do the top-k features
agree across CV folds? (Kuncheva 2007 "A stability index for feature
selection"; Nogueira et al. 2018 JMLR survey.) An unstable selector's
ranking is an artifact of the sample, not the signal; a selection
pipeline at scale gates on this before trusting any top-k.

Graft-added: the reference scores one matrix and stops; this closes the
loop over the fold dimension its CV utilities (O17) already provide.

Two pieces:

- :func:`chi2_fold_scores` — per-fold chi2 in ONE ``groupBy(fold, label)``
  sufficient-statistics pass (the chi2.py observed-matrix semantics with
  a fold axis; a (F·K, p) matrix reaches the driver, never rows).
- :func:`stability_topk` — scorer-agnostic: takes any long-form
  ``(fold, feature, score)`` table, ranks per fold (score desc, feature
  asc — deterministic tie-break), keeps top-k, and emits every fold pair's
  overlap: ``n_common``, Jaccard ``|A∩B| / |A∪B|``, and Kuncheva's
  chance-corrected consistency ``(r - k²/p) / (k - k²/p)``.

Scale shape: the per-fold ranking is a Window partitioned BY FOLD — each
fold's score column sorts in one task, which is exactly right here
because folds (not features) are the parallelism axis and a fold's score
table is p rows of (feature, double). The pair grid is F² (tiny) and the
overlap join runs on the k·F surviving rows only. All overlap counts are
exact integers; Jaccard/Kuncheva are single-expression quotients —
IEEE-identical cross-engine.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fastselect_spark.selection._stats import chi2_stats_from_observed


def chi2_fold_scores(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    fold_col: str = "fold",
) -> DataFrame:
    """(fold, feature, score): value-weighted chi2 per feature WITHIN each
    fold — one groupBy(fold, label) aggregation, driver finalize."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    aggs += [
        F.sum(F.col(c).cast("double")).alias(f"__s_{c}") for c in feature_cols
    ]
    rows = (
        df.groupBy(F.col(fold_col).alias("__f"), F.col(label_col).alias("__y"))
        .agg(*aggs)
        .collect()
    )
    by_fold: dict[object, list] = {}
    for r in rows:
        by_fold.setdefault(r["__f"], []).append(r)
    out = []
    for fold, frs in sorted(by_fold.items(), key=lambda kv: str(kv[0])):
        frs.sort(key=lambda r: r["__y"])
        freqs = np.array([r["__n"] for r in frs], dtype=np.float64)
        obs = np.array(
            [[r[f"__s_{c}"] or 0.0 for c in feature_cols] for r in frs]
        )
        if len(frs) < 2:
            stats = np.zeros(len(feature_cols))
        else:
            stats = chi2_stats_from_observed(obs, freqs, float(freqs.sum()))
        out += [(fold, c, float(s)) for c, s in zip(feature_cols, stats)]
    # pandas (Arrow) createDataFrame yields a LocalRelation with EXACT
    # size stats, so downstream small-input gates (stability_topk) decide
    # from the estimate instead of paying a probe job; a plain list lands
    # as a stats-less LogicalRDD (round-6). No None values here, so the
    # NaN-vs-NULL Arrow hazard does not apply.
    import pandas as pd_

    pdf_out = pd_.DataFrame(out, columns=[fold_col, "feature", "score"])
    return df.sparkSession.createDataFrame(
        pdf_out, schema=f"{fold_col} int, feature string, score double"
    )


def _spark_desc_key(t: tuple) -> tuple:
    """Sort key for (feature, score, is_null) matching Spark's
    ``desc(score), asc(feature)``: NaN ranks above every number, NULL
    last. (toPandas turns NULL into NaN, hence the separate flag.)"""
    x, s, null = t
    if null:
        return (2, 0.0, x)
    if math.isnan(s):
        return (0, 0.0, x)
    return (1, -s, x)


def _stability_topk_driver(
    scores: DataFrame,
    k: int,
    fold_col: str,
    feature_col: str,
    score_col: str,
) -> DataFrame:
    """Driver replica of stability_topk for small score tables — identical
    values by construction: top-k per fold ordered by (score desc,
    feature asc) over the same doubles, r exact integers, and the SAME
    Python-float exp/denominator terms the distributed path folds in as
    literals."""
    pdf = scores.select(
        F.col(fold_col).alias("f"),
        F.col(feature_col).alias("x"),
        F.col(score_col).cast("double").alias("s"),
        F.col(score_col).isNull().alias("null"),
    ).toPandas()
    p_cnt = pdf["x"].nunique()
    sets: dict = {}
    for f, grp in pdf.groupby("f", sort=True):
        ordered = sorted(
            zip(grp["x"].tolist(), grp["s"].tolist(), grp["null"].tolist()),
            key=_spark_desc_key,
        )
        sets[f] = {x for x, _, _ in ordered[:k]}
    fold_vals = sorted(sets)
    rows = []
    for i, a in enumerate(fold_vals):
        for b in fold_vals[i + 1 :]:
            ka, kb = float(len(sets[a])), float(len(sets[b]))
            r_int = len(sets[a] & sets[b])
            r = float(r_int)
            sz = len(sets[a]) + len(sets[b])
            exp_ab = ka * kb / p_cnt
            den = min(ka, kb) - exp_ab
            kunch = (r - exp_ab) / den if den != 0.0 else None
            rows.append((int(a), int(b), r_int, r / (float(sz) - r), kunch))
    return scores.sparkSession.createDataFrame(
        rows,
        schema="fold_a int, fold_b int, n_common long, "
        "jaccard double, kuncheva double",
    )


def stability_topk(
    scores: DataFrame,
    k: int,
    fold_col: str = "fold",
    feature_col: str = "feature",
    score_col: str = "score",
) -> DataFrame:
    """Pairwise top-k agreement between folds of a (fold, feature, score)
    table: (fold_a, fold_b, n_common, jaccard, kuncheva) for every
    unordered fold pair (fold_a < fold_b). ``p`` (the feature-universe
    size for Kuncheva's chance correction) is the table's distinct
    feature count; ``k == p`` makes Kuncheva undefined (NULL).

    Small score tables (fold-count × feature-count rows — usually tiny)
    run entirely on the driver: same ordering (score desc, feature asc),
    same double arithmetic, one collect instead of ~13 window/join/agg
    jobs (round-6; the CFS-small-path discipline)."""
    from fastselect_spark.selection._agg import small_frame

    if small_frame(scores, 32 << 20):
        return _stability_topk_driver(scores, k, fold_col, feature_col, score_col)
    p_cnt = scores.select(feature_col).distinct().count()
    w = Window.partitionBy(fold_col).orderBy(
        F.desc(score_col), F.asc(feature_col)
    )
    top = (
        scores.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .select(F.col(fold_col).alias("__fold"), F.col(feature_col).alias("__feat"))
        .persist()
    )
    # the fold-pair grid is F² (tiny): build it driver-side rather than
    # planning a nested-loop join. Per-fold ACTUAL selected-set sizes ride
    # along: a fold's score table can hold fewer than k features, and the
    # fixed 2k−r / k denominators silently overstate overlap then
    # (round-5 ADVICE fix) — with every fold full the values are
    # bit-identical to the fixed-k formulas.
    size_of = {
        r["__fold"]: int(r["__n"])
        for r in top.groupBy("__fold").agg(F.count(F.lit(1)).alias("__n")).collect()
    }
    fold_vals = sorted(size_of)
    pair_rows = []
    for i, a in enumerate(fold_vals):
        for b in fold_vals[i + 1 :]:
            ka, kb = float(size_of[a]), float(size_of[b])
            exp_ab = ka * kb / p_cnt  # Kuncheva chance term ka·kb/p
            denom = min(ka, kb) - exp_ab
            pair_rows.append(
                (a, b, size_of[a] + size_of[b], exp_ab, denom if denom != 0.0 else None)
            )
    pairs = scores.sparkSession.createDataFrame(
        pair_rows,
        schema="fold_a int, fold_b int, __sz long, __exp double, __den double",
    )
    inter = (
        top.alias("a")
        .join(
            top.alias("b"),
            (F.col("a.__feat") == F.col("b.__feat"))
            & (F.col("a.__fold") < F.col("b.__fold")),
        )
        .groupBy(
            F.col("a.__fold").alias("fold_a"), F.col("b.__fold").alias("fold_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    r = F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
    kunch = (r - F.col("__exp")) / F.col("__den")  # NULL __den -> NULL
    out = (
        pairs.join(F.broadcast(inter), ["fold_a", "fold_b"], "left")
        .select(
            "fold_a",
            "fold_b",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
            (r / (F.col("__sz").cast("double") - r)).alias("jaccard"),
            kunch.alias("kuncheva"),
        )
    )
    out = out.localCheckpoint()
    top.unpersist()
    return out
