"""Seeded numpy input generator, cached as parquet per (seed, size).

Every workload draws its inputs here, in set-up, so no generator ever
runs inside a timed call. The same ``(seed, n)`` gives byte-identical
records; a file already on disk for that key is reused.

Records are ``(id, embedding, document, m_cat, m_int)``:

- ``embedding``: 64-d float32, unit norm, a mixture of ``N_CLUSTERS``
  seeded cluster centres plus per-record noise, so IVF lists are
  meaningful and every query has close neighbours;
- ``document``: 30-80 tokens ``w<rank>`` from a ``VOCAB``-word
  vocabulary with log-uniform ranks, so low ranks are frequent and the
  BM25 side has real term-frequency structure;
- ``m_cat``: one of ``N_CATS`` strings (the ``where`` key);
- ``m_int``: an integer in ``[0, 1000)``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_CLUSTERS = 64
VOCAB = 5000
N_CATS = 8
DOC_TOKENS = (30, 80)
# word-rank bands of the query tokens: document frequency about 6% down to 0.2%
QUERY_RANK_BANDS = ((100, 200), (200, 500), (500, 1000), (1000, 3000))

WORDS = np.array([f"w{i}" for i in range(VOCAB)], dtype=object)
CATS = np.array([f"c{i}" for i in range(N_CATS)], dtype=object)


def centers(seed: int) -> np.ndarray:
    """The seed's cluster centres, unit norm, ``(N_CLUSTERS, DIM)``."""
    rng = np.random.default_rng([seed, 0])
    c = rng.uniform(-1.0, 1.0, (N_CLUSTERS, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _unit(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def token_ids(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[np.ndarray]:
    """``n`` token-id arrays of ``lo..hi`` tokens with log-uniform ranks."""
    lens = rng.integers(lo, hi + 1, n)
    flat = np.floor(VOCAB ** rng.random(int(lens.sum()))).astype(np.int64) - 1
    return np.split(np.clip(flat, 0, VOCAB - 1), np.cumsum(lens)[:-1])


def texts(ids: list[np.ndarray]) -> list[str]:
    return [" ".join(WORDS[t]) for t in ids]


def records(seed: int, n: int, stream: int = 1, prefix: str = "r", negate: bool = False) -> dict:
    """``n`` records as numpy columns plus the token ids of each document.

    ``stream`` separates independent draws of one seed (base records,
    inserts, increments). ``negate`` draws around the negated centres:
    such records are never within the top-10 of a query near a centre,
    so concurrent inserts cannot change a served query's exact answer."""
    rng = np.random.default_rng([seed, stream])
    cl = rng.integers(0, N_CLUSTERS, n)
    c = centers(seed)
    if negate:
        c = -c
    emb = _unit(c[cl] + rng.normal(0.0, 0.12, (n, DIM)))
    toks = token_ids(rng, n, *DOC_TOKENS)
    return {
        "id": np.array([f"{prefix}{stream}_{i}" for i in range(n)], dtype=object),
        "embedding": emb,
        "document": texts(toks),
        "m_cat": CATS[rng.integers(0, N_CATS, n)],
        "m_int": rng.integers(0, 1000, n),
        "tokens": toks,
    }


def queries(seed: int, n: int, stream: int = 99) -> dict:
    """``n`` dense queries near seeded centres plus query texts of one
    token per ``QUERY_RANK_BANDS`` band, so every seed's queries touch
    posting lists of the same frequency profile."""
    rng = np.random.default_rng([seed, stream])
    cl = rng.integers(0, N_CLUSTERS, n)
    emb = _unit(centers(seed)[cl] + rng.normal(0.0, 0.05, (n, DIM)))
    toks = [np.array([rng.integers(lo, hi) for lo, hi in QUERY_RANK_BANDS]) for _ in range(n)]
    return {"embedding": emb, "text": texts(toks), "tokens": toks, "cat": CATS[cl % N_CATS]}


def _vectors(emb: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(
        pa.array(emb.reshape(-1), pa.float32()), emb.shape[1]
    ).cast(pa.list_(pa.float32()))


def table(rec: dict) -> pa.Table:
    return pa.table(
        {
            "id": pa.array(rec["id"].tolist(), pa.string()),
            "embedding": _vectors(rec["embedding"]),
            "document": pa.array(rec["document"], pa.string()),
            "m_cat": pa.array(rec["m_cat"].tolist(), pa.string()),
            "m_int": pa.array(rec["m_int"], pa.int64()),
        }
    )


def _write_once(path: str, t: pa.Table) -> None:
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(t, tmp)
        os.replace(tmp, path)


def cached_parquet(work: str, rec: dict, seed: int, n: int, stream: int) -> str:
    """Write ``rec`` once to ``<work>/data/s<seed>_n<n>_<stream>.parquet``
    and return the path; an existing file for the key is reused."""
    path = os.path.join(work, "data", f"s{seed}_n{n}_{stream}.parquet")
    _write_once(path, table(rec))
    return path


def suite_tables(work: str, rec: dict, seed: int, n: int) -> str:
    """Write ``rec`` once as the ``documents`` and ``embeddings`` tables
    the registry queries read (ids ``0..n-1``) and return their
    directory."""
    d = os.path.join(work, "data", f"suite_s{seed}_n{n}")
    ids = pa.array(np.arange(n), pa.int64())
    _write_once(os.path.join(d, "documents.parquet"), pa.table({
        "doc_id": ids,
        "text": pa.array(rec["document"], pa.string()),
        "lang": pa.array(np.where(rec["m_int"] % 3 == 0, "fr", "en").tolist(), pa.string()),
        "source": pa.array(rec["m_cat"].tolist(), pa.string()),
        "n_chars": pa.array([len(t) for t in rec["document"]], pa.int64()),
    }))
    _write_once(os.path.join(d, "embeddings.parquet"), pa.table({
        "vec_id": ids,
        "embedding": _vectors(rec["embedding"]),
        "label": pa.array(rec["m_int"] % 10, pa.int32()),
    }))
    return d
