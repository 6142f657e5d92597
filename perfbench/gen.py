"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of the seed and is cached on disk under
``perfbench/.cache`` so a second run with the same seed reads the files
instead of regenerating them. Nothing here imports ``fastselect_spark``: a
change to the program cannot change a workload.

Sizes follow the repository's reference data. The transcripts match sf0.1,
the scale ``bench.py`` times by default: its events table has 100,000 rows
(one turn each) over 1,500 users. The documents and embeddings match sf0.01:
500 documents and 500 64-d vectors.
"""

from __future__ import annotations

import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
VERSION = 4  # bump when a generator or reference changes, to bypass old caches

_EPOCH_S = 1_767_225_600  # 2026-01-01T00:00:00Z

# Marker words of the program's non-English language-ID lists; content words
# avoid them so every generated document is unambiguously English.
_FOREIGN_MARKERS = {
    "el", "la", "de", "que", "y", "los", "se", "un", "der", "die", "und",
    "das", "ist", "nicht", "ein", "zu", "le", "et", "les", "des", "est",
    "une", "dans",
}
_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]


N_TURNS = 100_000
MEAN_CONV_TURNS = 67  # sf0.1: 100,000 events over 1,500 users
N_DOCS = 500  # sf0.01
N_VECS = 500  # sf0.01
DIM = 64
N_GROUPS = 16  # embedding clusters, and the IVF cells trained over them


def cache_path(kind: str, seed: int, ext: str) -> str:
    d = os.path.join(CACHE_DIR, f"{kind}-s{seed}-v{VERSION}")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, ext)


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(4, 10))))
        if w not in _FOREIGN_MARKERS:
            words.add(w)
    return np.array(sorted(words))


# --------------------------------------------------------------- transcripts


def transcripts(seed: int) -> str:
    """Parquet path of a transcripts table with the schema
    ``(conv_id string, turn_idx int, role string, text string, tool string,
    ts timestamp)`` of exactly ``N_TURNS`` rows. Conversation lengths are
    geometric with mean about ``MEAN_CONV_TURNS``, capped at 300 (a few hot
    conversations give skew); the last one is cut to hit the row count.
    Gaps are exponential with planted >300 s session breaks, about a fifth
    of assistant turns call a tool."""
    path = cache_path("transcripts", seed, "transcripts.parquet")
    if os.path.exists(path):
        return path
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng, 2000)
    lengths = np.minimum(2 + rng.geometric(1 / (MEAN_CONV_TURNS - 2), N_TURNS), 300)
    n_convs = int(np.searchsorted(np.cumsum(lengths), N_TURNS)) + 1
    lengths = lengths[:n_convs]
    lengths[-1] -= int(lengths.sum()) - N_TURNS
    n = N_TURNS
    conv = np.repeat(np.arange(n_convs), lengths)
    turn = np.concatenate([np.arange(k, dtype=np.int32) for k in lengths])
    role = np.where(turn % 2 == 0, "user", "assistant").astype(object)
    repeat = (rng.random(n) < 0.1) & (turn > 0)
    role[repeat] = np.roll(role, 1)[repeat]
    tools = np.array(["search", "python", "browse", "sql"], dtype=object)
    has_tool = (role == "assistant") & (rng.random(n) < 0.2)
    tool = np.where(has_tool, tools[rng.integers(0, len(tools), n)], None)
    gaps = rng.exponential(40.0, n)
    gaps[rng.random(n) < 0.06] += 600.0
    gaps = np.ceil(gaps).astype(np.int64)
    gaps[turn == 0] = 0
    starts = rng.integers(0, 30 * 86400, n_convs)
    csum = np.cumsum(gaps)
    first = np.repeat(np.cumsum(lengths) - lengths, lengths)
    ts = starts[conv] + csum - csum[first] + _EPOCH_S
    n_tok = rng.integers(1, 60, n)
    words = vocab[rng.integers(0, len(vocab), int(n_tok.sum()))]
    ends = np.cumsum(n_tok)
    text = [" ".join(words[e - k : e]) for e, k in zip(ends, n_tok)]
    table = pa.table(
        {
            "conv_id": pa.array([f"conv{c:06d}" for c in conv], pa.string()),
            "turn_idx": pa.array(turn, pa.int32()),
            "role": pa.array(role.tolist(), pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tool.tolist(), pa.string()),
            "ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
        }
    )
    _write(table, path)
    return path


# ------------------------------------------------------------------ documents


def documents(seed: int) -> str:
    """Parquet path of ``(doc_id long, text string, lang string, source
    string)``. Planted:

    - case/whitespace-changed copies of earlier documents (exact duplicates
      once normalised, so every span of the copy is a repeat);
    - near duplicates: up to three per ordinary document, each with its own
      count of 1-3 prepended words, which shifts every 8-token span (the
      span pass keeps them) but keeps the 3-shingle Jaccard within a family
      above 0.85 (MinHash finds them);
    - e-mail, IPv4, SSN and phone strings for the PII pass;
    - decomposed accents, control characters and tab runs for the Unicode
      clean pass.
    """
    path = cache_path("documents", seed, "documents.parquet")
    if os.path.exists(path):
        return path
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 6000)
    texts: list[str] = []
    roots: list[int] = []  # ordinary documents
    n_near: dict[int, int] = {}  # root -> near duplicates made from it
    for i in range(N_DOCS):
        r = rng.random()
        if i > 10 and r < 0.08:  # exact duplicate, different case / spacing
            src = texts[int(rng.integers(0, i))]
            texts.append(src.upper().replace(" ", "  ", 3))
            continue
        if i > 10 and r < 0.20:  # near duplicate of a recent ordinary document
            root = roots[int(rng.integers(max(0, len(roots) - 150), len(roots)))]
            k = n_near.get(root, 0) + 1
            # Each member of a family gets its own shift of 1-3 words, so no
            # two members share an 8-token span alignment: a shared alignment
            # would leave a span-deduplicated fragment whose Jaccard sits near
            # the 0.5 threshold, where MinHash recall is a coin toss.
            if k <= 3:
                n_near[root] = k
                extra = " ".join(vocab[rng.integers(0, len(vocab), k)])
                texts.append(f"{extra} {texts[root]}")
                continue
        roots.append(i)
        n = int(rng.integers(40, 120))
        words = vocab[rng.integers(0, len(vocab), n)].astype(object)
        stop = rng.random(n) < 0.3
        words[stop] = np.array(_STOPWORDS, dtype=object)[rng.integers(0, 10, int(stop.sum()))]
        words[0] = "the"
        if rng.random() < 0.15:
            words[int(rng.integers(1, n))] = "cafe\u0301"
        if rng.random() < 0.25:
            words[int(rng.integers(1, n))] = f"mail{i}@ex{i % 7}.com"
        if rng.random() < 0.15:
            words[int(rng.integers(1, n))] = f"10.{i % 256}.0.{i % 100}"
        if rng.random() < 0.10:
            words[int(rng.integers(1, n))] = f"ssn 123-45-{i % 10000:04d}"
        if rng.random() < 0.10:
            words[int(rng.integers(1, n))] = f"call +1 555-01{i % 100:02d}"
        text = " ".join(words)
        if rng.random() < 0.10:
            text = text.replace(" ", "\t\t", 1) + "\x07"
        texts.append(text)
    sources = np.array(["web", "books", "forum", "news"], dtype=object)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * N_DOCS, pa.string()),
            "source": pa.array(sources[rng.integers(0, 4, N_DOCS)].tolist(), pa.string()),
        }
    )
    _write(table, path)
    return path


def embeddings(seed: int) -> str:
    """Parquet path of ``(vec_id long, embedding array<double>)``: unit
    vectors around ``N_GROUPS`` random centres (cosine to the centre about
    0.85, between members about 0.7), with planted near copies (cosine
    above 0.99) of earlier members of the same group."""
    path = cache_path("embeddings", seed, "embeddings.parquet")
    if os.path.exists(path):
        return path
    rng = np.random.default_rng([seed, 4])
    centres = rng.normal(size=(N_GROUPS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    group = rng.integers(0, N_GROUPS, N_VECS)
    noise = rng.normal(size=(N_VECS, DIM)) * (0.6 / np.sqrt(DIM))
    vecs = centres[group] + noise
    dup = np.flatnonzero(rng.random(N_VECS) < 0.1)
    dup = dup[dup > 0]
    src = (dup * rng.random(len(dup))).astype(np.int64)
    vecs[dup] = vecs[src] + rng.normal(size=(len(dup), DIM)) * (0.05 / np.sqrt(DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float64())),
        }
    )
    _write(table, path)
    return path


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
