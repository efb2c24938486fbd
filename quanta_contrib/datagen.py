"""Synthetic document, embedding and event generators for the batch
operators (the transcript generator lives in ``quanta_spark.datagen``)."""

from __future__ import annotations

import os
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


_DOC_VOCAB = np.array(
    [
        "a", "agg", "batch", "big", "column", "customer", "data", "dup",
        "fast", "filter", "group", "hash", "join", "key", "line", "merge",
        "order", "part", "query", "row", "scan", "slow", "small", "sort",
        "spark", "stream", "table", "the", "value", "vector", "window",
    ]
)


_DOC_LANGS = np.array(["en", "de", "es", "fr", "zh"])


_DOC_LANG_P = np.array([0.41, 0.14, 0.15, 0.15, 0.15])


def generate_documents(n: int, seed: int = 42, dup_frac: float = 0.01) -> pd.DataFrame:
    """Deterministic documents table matching the sf testdata's
    shape (TESTDATA.md): word-soup text over the same 31-word vocab,
    10..100 whitespace tokens, langs ~41% en, 20 sources, plus a small
    planted exact-duplicate fraction. Pure function of (n, seed) so a
    10x-bigger input is the SAME distribution, which is what makes the
    scale-step time ratios meaningful."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, size=n)
    total = int(lens.sum())
    words = _DOC_VOCAB[rng.integers(0, len(_DOC_VOCAB), size=total)]
    bounds = np.cumsum(lens)[:-1]
    texts = [" ".join(chunk) for chunk in np.split(words, bounds)]
    # planted exact duplicates: the last dup_frac of docs copy earlier text
    n_dup = int(n * dup_frac)
    if n_dup:
        src = rng.integers(0, n - n_dup, size=n_dup)
        for i, s in enumerate(src):
            texts[n - n_dup + i] = texts[s]
    langs = _DOC_LANGS[rng.choice(len(_DOC_LANGS), size=n, p=_DOC_LANG_P)]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def generate_embeddings(n: int, dim: int = 64, seed: int = 42) -> pd.DataFrame:
    """Deterministic embeddings table matching the sf testdata's
    shape: (vec_id, embedding float[dim], label int), unit-normal
    components with a handful of planted near-duplicate pairs."""
    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((n, dim)).astype(np.float32)
    n_near = max(1, n // 100)
    src = rng.integers(0, n - n_near, size=n_near)
    mat[n - n_near :] = mat[src] + 0.01 * rng.standard_normal((n_near, dim)).astype(
        np.float32
    )
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(mat),
            "label": (np.arange(n) % 10).astype(np.int32),
        }
    )


def generate_clustered_embeddings(
    n: int,
    dim: int = 64,
    n_clusters: int = 50,
    spread: float = 0.35,
    seed: int = 42,
) -> pd.DataFrame:
    """Deterministic mixture-of-Gaussians embeddings — the shape REAL
    text/image embeddings have (points concentrate around semantic
    modes), unlike ``generate_embeddings``'s isotropic cloud where
    absolute ANN recall is meaningless and only lift can be judged.

    Each vector = unit-norm cluster center + isotropic noise of
    EXPECTED NORM ``spread`` (per-component sigma spread/sqrt(dim) — an
    unnormalized N(0, I_dim) draw would have norm ~sqrt(dim) and swamp
    the unit center), then re-normalized; within-cluster cosine is
    ~1/(1+spread^2) ≈ 0.89 at the default. Cluster sizes follow a
    heavy-ish Zipf so cell/bucket skew is represented. ``label`` carries the cluster id so recall
    experiments can verify that true neighbors are overwhelmingly
    same-cluster. Same (vec_id, embedding, label) schema as the sf
    testdata."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # Zipf-ish cluster weights, deterministic
    w = 1.0 / np.arange(1, n_clusters + 1) ** 0.7
    w /= w.sum()
    labels = rng.choice(n_clusters, size=n, p=w)
    mat = centers[labels] + (spread / np.sqrt(dim)) * rng.standard_normal((n, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(mat.astype(np.float32)),
            "label": labels.astype(np.int32),
        }
    )


def generate_events(n: int, seed: int = 42, n_users: int | None = None) -> pd.DataFrame:
    """Deterministic events table matching the sf testdata's shape
    (TESTDATA.md): uniform five event types, ~n/67 users (testdata
    sf0.01 has 150 users per 10k events), event times over 30 days,
    tiny JSON props. Pure function of (n, seed) so a 10x-bigger input
    is the SAME distribution — the scale-step bench input for the
    events-table operators (retention/funnel/interval join)."""
    rng = np.random.default_rng(seed)
    if n_users is None:
        n_users = max(10, n // 67)
    if n_users <= 0:
        raise ValueError(f"n_users={n_users} must be positive")
    types = np.array(["signup", "error", "click", "view", "purchase"])
    ts0 = pd.Timestamp("2024-01-01")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            # us precision: Spark cannot read parquet NANOS timestamps
            "ts": (
                ts0 + pd.to_timedelta(np.sort(rng.integers(0, 30 * 86400, n)), unit="s")
            ).astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": types[rng.integers(0, len(types), n)],
            "value": np.round(rng.random(n) * 100, 4),
            "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
        }
    )


def write_events(out_dir: str, n: int, seed: int = 42) -> None:
    """Write events.parquet into ``out_dir`` (same layout as
    the sf testdata dirs)."""
    os.makedirs(out_dir, exist_ok=True)
    ev = generate_events(n, seed=seed)
    pq.write_table(
        pa.Table.from_pandas(ev, preserve_index=False),
        os.path.join(out_dir, "events.parquet"),
    )


def write_documents_embeddings(
    out_dir: str, n_docs: int, n_vecs: int, seed: int = 42
) -> None:
    """Write documents.parquet / embeddings.parquet into ``out_dir``
    (same layout as the sf testdata dirs)."""
    os.makedirs(out_dir, exist_ok=True)
    docs = generate_documents(n_docs, seed=seed)
    pq.write_table(
        pa.Table.from_pandas(docs, preserve_index=False),
        os.path.join(out_dir, "documents.parquet"),
    )
    emb = generate_embeddings(n_vecs, seed=seed)
    tbl = pa.table(
        {
            "vec_id": pa.array(emb["vec_id"], pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in emb["embedding"]], pa.list_(pa.float32())
            ),
            "label": pa.array(emb["label"], pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(out_dir, "embeddings.parquet"))
