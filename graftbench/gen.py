"""Seeded input generators for the corpus workload.

The API workload reads the project's sf0.01 test tables, kept read-only in
``data/sf0.01``; everything the corpus workload reads is made here, from
the run seed, inside the run directory:

* ``zipf_documents``  a corpus over a Zipf(1.07) vocabulary of 50k
                      pseudo-words with planted near-duplicates.
* ``stream_inputs``   the streaming op's stored corpus, quality-model
                      training set, and arrival files mixing exact copies
                      and near-duplicates of the stored docs with fresh docs.

The same seed always gives the same tables.
"""
from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = "abcdefghijklmnopqrstuvwxyz"
VOCAB_SIZE = 50_000
ZIPF_S = 1.07
LANGS = np.array(["en", "de", "es", "fr", "zh"], dtype=object)
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20


def det_word(rank: int) -> str:
    """Deterministic pseudo-word for a vocabulary rank (2-12 letters)."""
    h = hashlib.md5(f"w{rank}".encode()).digest()
    n = 2 + h[0] % 11
    return "".join(LETTERS[h[1 + i % 14] % 26] for i in range(n))


_VOCAB: np.ndarray | None = None
_PROBS: np.ndarray | None = None


def zipf_vocab() -> tuple[np.ndarray, np.ndarray]:
    global _VOCAB, _PROBS
    if _VOCAB is None:
        _VOCAB = np.array([det_word(r) for r in range(VOCAB_SIZE)], dtype=object)
        p = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** (-ZIPF_S)
        _PROBS = p / p.sum()
    return _VOCAB, _PROBS


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def _doc_cols(ids: np.ndarray, texts: list[str], rng) -> dict:
    return {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": rng.choice(LANGS, len(texts), p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}


def _fresh_texts(rng, n: int) -> list[str]:
    vocab, probs = zipf_vocab()
    lens = rng.integers(10, 101, n)
    words = vocab[rng.choice(VOCAB_SIZE, int(lens.sum()), p=probs)]
    return [" ".join(ws) for ws in np.split(words, np.cumsum(lens)[:-1])]


def near_dup(rng, text: str, frac: float = 0.1) -> str:
    """``text`` with a ``frac`` share of its words replaced by Zipf draws."""
    vocab, probs = zipf_vocab()
    words = text.split(" ")
    pos = rng.choice(len(words), max(1, int(len(words) * frac)), replace=False)
    for p, w in zip(pos, vocab[rng.choice(VOCAB_SIZE, len(pos), p=probs)]):
        words[p] = w
    return " ".join(words)


def zipf_texts(n_docs: int, seed: int, dup_frac: float = 0.05,
               swap_frac: float = 0.03) -> list[str]:
    """Zipf corpus texts; the last ``dup_frac`` of the docs are near-dups
    (``swap_frac`` of their words replaced) of earlier docs, near-dups
    included, so some duplicate clusters are chains."""
    rng = np.random.default_rng(seed)
    n_fresh = n_docs - int(n_docs * dup_frac)
    texts = _fresh_texts(rng, n_fresh)
    for _ in range(n_docs - n_fresh):
        texts.append(near_dup(rng, texts[int(rng.integers(0, len(texts)))], swap_frac))
    return texts


def zipf_documents(out: Path, n_docs: int, seed: int) -> list[str]:
    """``documents.parquet`` for the corpus workload; returns the texts."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed + 1)
    texts = zipf_texts(n_docs, seed)
    _write(out, "documents", _doc_cols(np.arange(n_docs), texts, rng))
    return texts


def stream_inputs(out: Path, stored: list[str], n_files: int, per_file: int,
                  seed: int) -> None:
    """The streaming op's inputs: its stored corpus ``stored.parquet``,
    ``train.parquet`` for its quality model (stored prose is good, one-word
    repeats are bad) and ``n_files`` arrival files in ``arrivals/``."""
    _write(out, "stored", {"doc_id": pa.array(range(len(stored)), pa.int64()),
                           "text": stored})
    n_train = min(200, len(stored))
    bad = [" ".join([stored[i].split(" ")[0]] * 20) for i in range(n_train)]
    _write(out, "train", {
        "doc_id": pa.array(range(2 * n_train), pa.int64()),
        "text": stored[:n_train] + bad,
        "y": [1.0] * n_train + [0.0] * n_train})
    (out / "arrivals").mkdir()
    tables = arrival_tables(stored, n_files, per_file, seed, first_id=10 * len(stored))
    for i, t in enumerate(tables):
        pq.write_table(t, out / "arrivals" / f"arrival-{i:05d}.parquet")


def arrival_tables(stored: list[str], n_files: int, per_file: int, seed: int,
                   first_id: int) -> list[pa.Table]:
    """Arrival files of ``per_file`` docs each: 10% exact copies of stored
    docs, 10% near-dups of stored docs, the rest fresh Zipf docs. Doc ids
    are unique and start at ``first_id``."""
    rng = np.random.default_rng(seed + 2)
    n_copy = n_near = per_file // 10
    tables = []
    next_id = first_id
    for _ in range(n_files):
        picks = rng.integers(0, len(stored), n_copy + n_near)
        texts = [stored[i] for i in picks[:n_copy]]
        texts += [near_dup(rng, stored[i]) for i in picks[n_copy:]]
        texts += _fresh_texts(rng, per_file - n_copy - n_near)
        order = rng.permutation(per_file)
        ids = np.arange(next_id, next_id + per_file)
        next_id += per_file
        tables.append(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "text": pa.array([texts[i] for i in order], pa.string())}))
    return tables
