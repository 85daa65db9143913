"""Seeded input generators. Every workload input is made here with NumPy
from the run's ``--seed``; the library only ever receives these arrays."""

from __future__ import annotations

import numpy as np

# planted dense GLM signal (original scale): intercept, l_quantity,
# l_discount, l_tax
DENSE_BETA = np.array([5000.0, 100.0, -20000.0, 30000.0])
DENSE_NOISE_SD = 300.0
# planted log-odds of the "ret" flag: intercept, l_quantity, l_discount, l_tax
DENSE_FLAG_BETA = np.array([-1.5, 0.06, -12.0, 0.0])

VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge "
    "data the join vector customer plan stage task shuffle cache"
).split()
LANGS = ("en", "de", "zh")


def dense_lineitem(seed: int, n: int) -> dict:
    """lineitem-shaped rows: three features, a planted linear price and a
    planted logistic return flag."""
    rng = np.random.default_rng([seed, 1])
    q = rng.integers(1, 51, n).astype(np.float64)
    d = rng.integers(0, 11, n) / 100.0
    t = rng.integers(0, 9, n) / 100.0
    X = np.column_stack([q, d, t])
    price = DENSE_BETA[0] + X @ DENSE_BETA[1:] + DENSE_NOISE_SD * rng.standard_normal(n)
    eta = DENSE_FLAG_BETA[0] + X @ DENSE_FLAG_BETA[1:]
    flag = np.where(rng.random(n) < 1.0 / (1.0 + np.exp(-eta)), "ret", "ok")
    return {
        "l_quantity": q, "l_discount": d, "l_tax": t,
        "l_extendedprice": price, "flag": flag,
    }


def sparse_problem(seed: int, n: int, p: int, nnz_per_row: int,
                   q: float = 0.02) -> dict:
    """Long-format sparse design with planted signal, the recipe of
    ``ops.synth.random_sparse_problem`` in NumPy: row ``r`` holds columns
    ``(offset_r + k*stride) % p``, values are standard normal, ``floor(q*p)``
    planted coefficients alternate in sign. Returns the triplets and a
    gaussian response ``2 * lp + N(0, 1)``, the amplitude and noise of the
    synth recipe."""
    rng = np.random.default_rng([seed, 2])
    k = max(1, int(np.floor(q * p)))
    support = np.sort(rng.choice(p, size=k, replace=False))
    sign = np.where(np.arange(k) % 2 == 0, 1.0, -1.0)
    stride = max(1, p // nnz_per_row)
    offset = rng.integers(0, p, n)
    rows = np.repeat(np.arange(n, dtype=np.int64), nnz_per_row)
    cols = ((offset[:, None] + np.arange(nnz_per_row) * stride) % p).ravel()
    vals = rng.standard_normal(n * nnz_per_row)
    unit = np.zeros(p)
    unit[support] = sign
    lp = np.bincount(rows, weights=vals * unit[cols], minlength=n)
    y = 2.0 * lp + rng.standard_normal(n)
    return {
        "n": n, "p": p, "rows": rows, "cols": cols.astype(np.int32),
        "vals": vals, "support": support, "y": y,
    }


def documents(seed: int, n: int) -> dict:
    """Bag-of-words documents with a seed-chosen shard residue. Shard docs
    (``doc_id % 5 == residue``) include planted exact copies and one-word
    edits of corpus docs, so every gate tier has work and the keep policy
    drops something."""
    rng = np.random.default_rng([seed, 3])
    residue = int(seed % 5)
    vocab = np.array(VOCAB)
    lengths = rng.integers(12, 60, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), L)]) for L in lengths]
    ids = np.arange(n, dtype=np.int64)
    corpus_ids = ids[ids % 5 != residue]
    exact_copies = []
    for i in ids[ids % 5 == residue]:
        r = rng.random()
        src = int(rng.choice(corpus_ids))
        if r < 0.15:
            texts[i] = texts[src]
            exact_copies.append(int(i))
        elif r < 0.30:
            words = texts[src].split()
            words[int(rng.integers(0, len(words)))] = str(vocab[int(rng.integers(0, len(vocab)))])
            texts[i] = " ".join(words)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": np.array([f"src{k}" for k in rng.integers(0, 4, n)]),
        "residue": residue,
        "exact_copies": np.array(exact_copies, dtype=np.int64),
    }


def embeddings(seed: int, n: int, dim: int, n_clusters: int,
               n_queries: int) -> dict:
    """Clustered embedding vectors and a seed-chosen batch of query ids
    drawn from the corpus itself."""
    rng = np.random.default_rng([seed, 4])
    centers = rng.standard_normal((n_clusters, dim))
    label = rng.integers(0, n_clusters, n)
    X = centers[label] + rng.standard_normal((n, dim))
    queries = np.sort(rng.choice(n, size=n_queries, replace=False))
    return {"vec_id": np.arange(n, dtype=np.int64), "vec": X,
            "query_ids": queries}
