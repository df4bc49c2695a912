"""Seeded input generators. Each writes parquet with pyarrow; the engine
only ever sees the files. The same seed gives byte-identical inputs."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
# center spread: clusters overlap enough that nprobe=8 misses some neighbours
SPREAD = 0.6


# -- vectors ------------------------------------------------------------------
class Mixture:
    """A 64-d Gaussian mixture with Zipf-shaped cluster weights over a
    seeded ranking of the clusters, so inverted list sizes come out skewed
    as they do for real embeddings, with the same skew for every seed."""

    def __init__(self, seed: int, n_clusters: int = 64, dim: int = DIM) -> None:
        rng = np.random.default_rng([seed, 1])
        self.centers = rng.standard_normal((n_clusters, dim)) * SPREAD
        self.ranking = rng.permutation(n_clusters)
        self.weights = self.zipf(0.8)
        self.seed = seed

    def zipf(self, s: float) -> np.ndarray:
        """Cluster weights ~ 1/rank^s over the seeded ranking."""
        w = np.empty(len(self.ranking))
        w[self.ranking] = 1.0 / np.arange(1, len(w) + 1) ** s
        return w / w.sum()

    def draw(self, n: int, stream: int, weights=None) -> np.ndarray:
        """``n`` points from sub-stream ``stream`` (distinct streams give
        independent draws); ``weights`` overrides the cluster weights."""
        rng = np.random.default_rng([self.seed, 2, stream])
        p = self.weights if weights is None else weights
        lab = rng.choice(len(self.centers), size=n, p=p)
        return (self.centers[lab] + rng.standard_normal((n, self.centers.shape[1]))).astype(
            np.float32
        )

    def hot_weights(self) -> np.ndarray:
        """The hot set of a query stream: steeper weights on the same
        ranking, so popular queries land in the densest regions."""
        return self.zipf(1.2)


def vector_table(ids: np.ndarray, X: np.ndarray, id_col="id", vec_col="vector") -> pa.Table:
    vec = pa.FixedSizeListArray.from_arrays(pa.array(X.ravel(), pa.float32()), X.shape[1])
    return pa.table(
        {id_col: pa.array(ids, pa.int64()), vec_col: vec.cast(pa.list_(pa.float32()))}
    )


def write_parts(table: pa.Table, path: str, n_files: int) -> str:
    """``table`` as ``n_files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:04d}.parquet"))
    return path


def exact_topk(X: np.ndarray, Q: np.ndarray, k: int, ids=None) -> np.ndarray:
    """Exact L2 top-k ids per query, nearest first, ties to the smaller id
    (float64, blocked over queries)."""
    ids = np.arange(len(X)) if ids is None else np.asarray(ids)
    Xd = X.astype(np.float64)
    xx = (Xd * Xd).sum(1)
    order = np.argsort(ids, kind="stable")
    Xd, xx, ids = Xd[order], xx[order], ids[order]
    out = np.empty((len(Q), k), dtype=np.int64)
    for a in range(0, len(Q), 256):
        q = Q[a:a + 256].astype(np.float64)
        d = xx[None, :] - 2.0 * q @ Xd.T + (q * q).sum(1)[:, None]
        part = np.argpartition(d, k, axis=1)[:, : k + 1]
        for i, row in enumerate(part):
            best = row[np.lexsort((ids[row], d[i, row]))][:k]
            out[a + i] = ids[best]
    return out


# -- documents ----------------------------------------------------------------
EN = ("the and of to in is that it for on with as at by from this have "
      "will are not but they his was one all data page site user time "
      "new more work first service system report value market").split()
FR = ("le la et les des une dans pour sur avec est sont cette aussi "
      "plus sans tout comme entre leurs apres notre votre chaque").split()
BOILER = [
    "accept all cookies to continue reading this site.",
    "subscribe to our newsletter for weekly updates.",
] + [f"footer navigation links section {i} all rights reserved." for i in range(22)]
NEAR_LINE = "minor revision of the page above."
HOT_PCT, WARM_PCT = 30, 10
NEARDUP_MOD = 10  # doc_id % 10 == 9 is a near-duplicate of doc_id - 1
VIRAL_MOD, VIRAL_REM = 100, 7  # doc_id % 100 == 7 is the viral page (1%)


def synth_docs(n: int, seed: int) -> dict:
    """A web-crawl-shaped corpus: ~90% EN / ~10% FR word-salad pages of
    6-13 twelve-word lines; 30% of pages carry one hot boilerplate line
    and 10% another; every page has one of 22 footers; every tenth page
    is a near-duplicate of its predecessor (one extra line); 1% of pages
    are exact copies of one viral page. Returns the columns plus the
    planted near-duplicate pairs."""
    rng = np.random.default_rng([seed, 4])
    doc_id = np.arange(n, dtype=np.int64)
    base = np.where(doc_id % NEARDUP_MOD == NEARDUP_MOD - 1, doc_id - 1, doc_id)
    viral = doc_id % VIRAL_MOD == VIRAL_REM
    base = np.where(viral, VIRAL_REM, base)
    is_fr = rng.random(n) < 0.1
    n_lines = rng.integers(6, 14, size=n)
    words = rng.integers(0, 1 << 30, size=(n, 13, 12))
    roll = rng.integers(0, 100, size=n)
    footer = rng.integers(2, len(BOILER), size=n)
    texts, langs, sources = [], [], []
    for i in range(n):
        b = base[i]
        vocab = FR if is_fr[b] else EN
        lines = []
        if roll[b] < HOT_PCT:
            lines.append(BOILER[0])
        if roll[b] >= 100 - WARM_PCT:
            lines.append(BOILER[1])
        for r in range(n_lines[b]):
            lines.append(" ".join(vocab[w % len(vocab)] for w in words[b, r]) + ".")
        if b != i and not viral[i]:
            lines.append(NEAR_LINE)
        lines.append(BOILER[footer[b]])
        texts.append("\n".join(lines))
        langs.append("fr" if is_fr[b] else "en")
        sources.append(f"src{b % 4}")
    near = doc_id % NEARDUP_MOD == NEARDUP_MOD - 1
    planted = [(int(b), int(d)) for d, b in zip(doc_id[near], base[near])]
    return {
        "doc_id": doc_id,
        "text": texts,
        "lang": langs,
        "source": sources,
        "planted": planted,
    }


def docs_table(docs: dict) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(docs["doc_id"], pa.int64()),
            "text": pa.array(docs["text"], pa.string()),
            "lang": pa.array(docs["lang"], pa.string()),
            "source": pa.array(docs["source"], pa.string()),
        }
    )


def shingles(text: str, n: int = 3) -> set:
    """The engine's word shingles: lowercase, whitespace-split, n-grams."""
    w = text.lower().split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0
