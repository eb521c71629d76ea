"""Seeded inputs for every workload.

All inputs derive from ``data/documents.parquet`` (a byte copy of the
sf0.1 ``documents`` table, checked by hash) and from the run's seed: the
same seed gives the same corpora and requests. Corpora are written as
sf-shaped directories (``<dir>/documents.parquet``); the program under
test only ever receives those directories or, for the API, the rows of
one request.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pandas as pd

SOURCE = Path(__file__).resolve().parent / "data" / "documents.parquet"
SOURCE_SHA256 = "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82"

# kg_lexical_dedup: docs per pass, of which HOT_SHARE are perturbed
# copies of HOT_DOCS "hot" docs; each copy has PERTURB_TOKENS tokens
# replaced by another vocabulary word.
LEXICAL_DOCS = 800
HOT_DOCS = 4
HOT_SHARE = 0.10
PERTURB_TOKENS = 1
# hot docs are drawn from docs at least this long, so one replaced
# token keeps the copy above the 0.8 shingle-Jaccard near-dup threshold
HOT_MIN_TOKENS = 40
# kg_neural: docs per pass, sampled without replacement, original ids
NEURAL_DOCS = 400
# API requests replayed after each traced kg_lexical_dedup pass, each
# on REQUEST_DOCS docs of that pass's corpus
API_REQUESTS = 8
REQUEST_DOCS = 16


def load_source() -> pd.DataFrame:
    """The bundled source table; refuses a copy that is not the sf0.1 one."""
    digest = hashlib.sha256(SOURCE.read_bytes()).hexdigest()
    if digest != SOURCE_SHA256:
        raise RuntimeError(f"{SOURCE} is not the sf0.1 documents table")
    return pd.read_parquet(SOURCE)


def rng_for(seed: int, workload: str, op: int) -> np.random.Generator:
    """Independent stream per (seed, workload, operation index); warm-up
    operations have negative indices."""
    key = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    return np.random.default_rng([seed % 2**32, key, op % 2**32])


def write_corpus(docs: pd.DataFrame, path: Path) -> str:
    path.mkdir(parents=True, exist_ok=True)
    docs.to_parquet(path / "documents.parquet", index=False)
    return str(path)


def _perturb(text: str, vocab: np.ndarray, rng: np.random.Generator) -> str:
    toks = text.split(" ")
    for pos in rng.choice(len(toks), PERTURB_TOKENS, replace=False):
        toks[pos] = rng.choice(vocab[vocab != toks[pos]])
    return " ".join(toks)


def vocabulary(src: pd.DataFrame) -> np.ndarray:
    return np.array(sorted({w for t in src["text"] for w in t.split(" ")}))


def lexical_corpus(
    src: pd.DataFrame, vocab: np.ndarray, rng: np.random.Generator, n_docs: int
) -> pd.DataFrame:
    """Rows resampled with replacement plus near-dup copies of a few hot
    docs; every row gets a fresh int64 doc_id. ``vocab`` is
    ``vocabulary(src)``."""
    n_copies = int(n_docs * HOT_SHARE)
    base = src.iloc[rng.integers(0, len(src), n_docs - n_copies)]
    n_tokens = src["text"].str.count(" ") + 1
    long_docs = np.flatnonzero(n_tokens.to_numpy() >= HOT_MIN_TOKENS)
    hot = src.iloc[rng.choice(long_docs, HOT_DOCS, replace=False)]
    copies = hot.iloc[rng.integers(0, HOT_DOCS, n_copies)].copy()
    copies["text"] = [_perturb(t, vocab, rng) for t in copies["text"]]
    copies["n_chars"] = np.array([len(t) for t in copies["text"]], dtype=np.int64)
    docs = pd.concat([base, copies], ignore_index=True)
    docs = docs.iloc[rng.permutation(len(docs))].reset_index(drop=True)
    first = int(rng.integers(10**6, 10**12))
    docs["doc_id"] = np.arange(first, first + len(docs), dtype=np.int64)
    return docs


def neural_subset(src: pd.DataFrame, rng: np.random.Generator, n_docs: int) -> pd.DataFrame:
    """Docs sampled without replacement, keeping their original ids."""
    idx = np.sort(rng.choice(len(src), n_docs, replace=False))
    return src.iloc[idx].reset_index(drop=True)


def request_docs(corpus: pd.DataFrame, rng: np.random.Generator) -> pd.DataFrame:
    """One API request: docs of a corpus, without replacement, their ids
    kept."""
    idx = rng.choice(len(corpus), REQUEST_DOCS, replace=False)
    return corpus.iloc[idx].reset_index(drop=True)
