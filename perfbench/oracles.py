"""Reference results, computed once per seed by paths independent of the
program: DuckDB SQL for the backfill rows and the corpus chain's dedup
steps, the NumPy oracles in ``tests/oracle_numpy.py`` for scores and picks,
and plain Python for the text passes. Results are cached next to the
generated inputs."""

from __future__ import annotations

import os
import re
import sys
import unicodedata

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.join(REPO, "tests") not in sys.path:
    sys.path.insert(0, os.path.join(REPO, "tests"))

from oracle_numpy import chi2_oracle, mi_oracle  # noqa: E402

MATRIX_COLS = ["c_session", "c_runlen", "c_gap", "c_stok", "c_ntok"]


def _cached_npz(path: str, build) -> dict[str, np.ndarray]:
    if not os.path.exists(path):
        out = build()
        np.savez(path + ".tmp.npz", **out)
        os.replace(path + ".tmp.npz", path)
    with np.load(path, allow_pickle=False) as z:
        return {k: z[k] for k in z.files}


# ------------------------------------------------------------------- backfill

# Modelled on __spark_entry__'s _FEATURIZE_BASE + asof_session_stats oracle,
# then main.build_matrix's capped integer codes.
_BACKFILL_SQL = """
WITH t AS (SELECT * FROM read_parquet(?)),
f0 AS (
    SELECT *,
        EPOCH(ts) - EPOCH(LAG(ts) OVER w) AS gap_raw,
        LEN(STRING_SPLIT_REGEX(text, '\\s+')) AS n_tokens,
        ROW_NUMBER() OVER w AS seq,
        CASE WHEN LAG(role) OVER w IS NULL OR role <> LAG(role) OVER w
             THEN 1 ELSE 0 END AS role_changed
    FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
f1 AS (
    SELECT *,
        COALESCE(gap_raw, 0) AS turn_gap_s,
        SUM(CASE WHEN gap_raw IS NULL OR gap_raw > 300 THEN 1 ELSE 0 END)
            OVER w - 1 AS session_id,
        MAX(CASE WHEN role_changed = 1 THEN seq END) OVER w AS run_start
    FROM f0
    WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
sess AS (
    SELECT conv_id, session_id, MAX(ts) AS ts, AVG(n_tokens) AS sess_avg_tokens
    FROM f1 GROUP BY conv_id, session_id
),
j AS (
    SELECT f.*, s.sess_avg_tokens AS stok
    FROM f1 f ASOF LEFT JOIN sess s ON f.conv_id = s.conv_id AND f.ts >= s.ts
)
SELECT conv_id, turn_idx,
       LEAST(session_id, 7) AS c_session,
       LEAST(seq - run_start + 1, 5) AS c_runlen,
       LEAST(FLOOR(turn_gap_s / 60.0), 10) AS c_gap,
       LEAST(FLOOR(stok), 10) AS c_stok,
       LEAST(n_tokens, 60) AS c_ntok,
       CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END AS label
FROM j ORDER BY conv_id, turn_idx
"""


def mrmr_mid(relevance: np.ndarray, mi_with, k: int) -> list[int]:
    """Greedy MID mRMR (first max wins); ``mi_with(j)`` returns the MI of
    feature j with every feature, computed only for the picked ones."""
    picked = [int(np.argmax(relevance))]
    red = mi_with(picked[0]).astype(np.float64)
    for step in range(1, k):
        score = relevance - red / step
        score[picked] = -np.inf
        picked.append(int(np.argmax(score)))
        if step + 1 < k:
            red += mi_with(picked[-1])
    return picked


def backfill(transcripts_path: str, out_dir: str) -> dict[str, np.ndarray]:
    def build():
        import duckdb

        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        con.execute("SET TimeZone = 'UTC'")
        df = con.execute(_BACKFILL_SQL, [transcripts_path]).fetchdf()
        con.close()
        X = df[MATRIX_COLS].to_numpy(dtype=np.float64)  # NULL c_stok -> NaN
        y = df["label"].to_numpy(dtype=np.int64)
        rel = np.array([mi_oracle(X[:, f], y) for f in range(X.shape[1])])
        red = np.array(
            [[mi_oracle(X[:, i], X[:, j]) if i != j else 0.0 for j in range(5)] for i in range(5)]
        )
        picked = mrmr_mid(rel, lambda j: red[:, j], 3)
        return {
            "key": (df["conv_id"] + ":" + df["turn_idx"].astype(str)).to_numpy(dtype=str),
            "X": X,
            "y": y,
            "chi2": chi2_oracle(X, y),
            "relevance": rel,
            "redundancy": red,
            "picked": np.array(picked),
        }

    return _cached_npz(os.path.join(out_dir, "oracle.npz"), build)


# --------------------------------------------------------------- corpus_dedup

# text/pii.py's ordered (pattern, placeholder) stages, in Python's dialect
# (the patterns are in the Java-regex / RE2 / Python common subset).
_PII = [
    (re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "<EMAIL>"),
    (re.compile(r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"), "<IP>"),
    (re.compile(r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"), "<SSN>"),
    (re.compile(r"(?:\+|\b)[0-9][0-9 -]{7,13}[0-9]\b"), "<PHONE>"),
]
_CONTROL = re.compile(r"[\x00-\x08\x0b-\x1f\x7f]")
_BLANKS = re.compile(r"[ \t]+")
_WS = re.compile(r"\s+")
_EN = ["the", "and", "of", "to", "is", "in", "that", "it"]
_STOP = {
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be", "this",
}

# Modelled on __spark_entry__'s dedup_pipeline oracle: min-id survivor per
# normalised text, exact 3-shingle Jaccard >= 0.5, recursive reachability for
# the clusters, keep each cluster's minimum id. Candidate pairs come from
# prefix filtering, which is exact: under one global order of shingles (rarest
# first), two sets with Jaccard >= t share an element within their first
# n - ceil(t * n) + 1 shingles, so stopword shingles never fan out the join.
_SHINGLE_PAIRS = """
norm AS (
    SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t FROM spans_out
),
surv AS MATERIALIZED (
    SELECT doc_id, t FROM (
        SELECT doc_id, t, ROW_NUMBER() OVER (PARTITION BY t ORDER BY doc_id) AS rn FROM norm
    ) WHERE rn = 1
),
toks AS (SELECT doc_id, string_split(t, ' ') AS tk FROM surv),
sh AS MATERIALIZED (
    SELECT doc_id,
           CASE WHEN len(tk) >= 3
                THEN list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i + 2], ' ')))
                ELSE [array_to_string(tk, ' ')] END AS shingles
    FROM toks
),
flat AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
freq AS (SELECT s, COUNT(*) AS df FROM flat GROUP BY s),
prefix AS (
    SELECT doc_id, s FROM (
        SELECT doc_id, s, n,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, s) AS r
        FROM flat JOIN freq USING (s)
    ) WHERE r <= n - CEIL(0.5 * n) + 1
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM prefix a JOIN prefix b ON a.s = b.s AND a.doc_id < b.doc_id
),
scored AS MATERIALIZED (
    SELECT id_a, id_b,
           len(list_intersect(sa.shingles, sb.shingles)) * 1.0
           / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
    FROM cand
    JOIN sh sa ON sa.doc_id = cand.id_a
    JOIN sh sb ON sb.doc_id = cand.id_b
)"""

_DEDUP_SQL = f"""
WITH RECURSIVE {_SHINGLE_PAIRS},
pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.5),
e AS (SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
reach(node, comp) AS (
    SELECT DISTINCT src, src FROM e
    UNION
    SELECT e.src, r.comp FROM reach r JOIN e ON e.dst = r.node
),
dropped AS (SELECT node FROM reach GROUP BY node HAVING MIN(comp) <> node)
SELECT doc_id FROM surv WHERE doc_id NOT IN (SELECT node FROM dropped) ORDER BY doc_id
"""

# MinHash LSH (16 bands x 4 rows) finds a pair with Jaccard >= 0.8 except with
# probability < 3e-4, and never reports one below the 0.5 verify threshold;
# between the two its recall is a coin toss, so the exact reference above
# only holds for inputs with no survivor pair in [0.5, 0.8).
_AMBIGUOUS_SQL = f"""
WITH {_SHINGLE_PAIRS}
SELECT COUNT(*) FROM scored WHERE jaccard >= 0.5 AND jaccard < 0.8
"""


def _clean(s: str) -> str:
    s = unicodedata.normalize("NFC", s)
    s = _CONTROL.sub("", s)
    s = _BLANKS.sub(" ", s)
    return s.strip(" \t\n\r")


def _redact(s: str) -> str:
    for pat, token in _PII:
        s = pat.sub(token, s)
    return s


def _span_dedup(docs: list[tuple[int, str]], span: int = 8) -> dict[int, str]:
    """Global first-occurrence span dedup in (doc_id, position) order."""
    seen: set[str] = set()
    out = {}
    for doc_id, text in sorted(docs):
        toks = _WS.sub(" ", text.lower().strip()).split(" ")
        chunks = [" ".join(toks[i : i + span]) for i in range(0, len(toks), span)]
        kept = []
        for c in chunks:
            if c not in seen:
                seen.add(c)
                kept.append(c)
        out[doc_id] = " ".join(kept)
    return out


def _passes_quality(text: str) -> bool:
    toks = text.strip().split() or [""]
    low = [t.lower() for t in toks]
    n_chars = len(text)
    alpha = sum(c.isascii() and c.isalpha() for c in text)
    punct = sum(not (c.isascii() and c.isalnum()) and not c.isspace() for c in text)
    q = (
        0.4 * min(n_chars / 500.0, 1.0)
        + 0.4 * alpha / max(n_chars, 1)
        + 0.2 * (1.0 - min(punct / max(n_chars, 1) * 5.0, 1.0))
    )
    stop = sum(t in _STOP for t in low) / max(len(low), 1)
    en = len(set(low) & set(_EN))
    return q >= 0.3 and stop >= 0.05 and 5 <= len(toks) <= 100_000 and en > 0


def corpus(docs_path: str, out_dir: str) -> dict[str, np.ndarray]:
    def build():
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(docs_path).to_pydict()
        docs = [(i, _redact(_clean(s))) for i, s in zip(t["doc_id"], t["text"])]
        spans = _span_dedup(docs)
        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        con.register("spans_out", pa.table({"doc_id": list(spans), "text": list(spans.values())}))
        ambiguous = con.execute(_AMBIGUOUS_SQL).fetchone()[0]
        if ambiguous:
            raise ValueError(f"{ambiguous} document pairs with Jaccard in [0.5, 0.8)")
        after_near = [r[0] for r in con.execute(_DEDUP_SQL).fetchall()]
        con.close()
        kept = [i for i in after_near if _passes_quality(spans[i])]
        return {"kept": np.array(kept, dtype=np.int64)}

    return _cached_npz(os.path.join(out_dir, "oracle.npz"), build)


def semdedup_kept(vecs: np.ndarray, centroids: np.ndarray, threshold: float) -> np.ndarray:
    """Centroid-literal SemDeDup: assign each vector to its most similar
    centroid (lowest index on ties); a vector is dropped iff a lower-id
    vector in its cluster has cosine >= threshold."""
    assign = np.argmax(vecs @ centroids.T, axis=1)
    kept = np.ones(len(vecs), dtype=bool)
    for c in np.unique(assign):
        idx = np.flatnonzero(assign == c)
        sims = vecs[idx] @ vecs[idx].T
        dup = np.tril(sims >= threshold, k=-1).any(axis=1)
        kept[idx[dup]] = False
    return kept

