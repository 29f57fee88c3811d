"""Seeded text/embedding corpus for the curation workload.

Writes ``documents.parquet`` (doc_id, text, lang, source, n_chars) and
``embeddings.parquet`` (vec_id, embedding, label) in the layout the
package's ``queries()`` read. The text mixes a technical vocabulary with
the stop words the language identifier keys on, and plants exact and
near duplicates so the dedup stages have work to find.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark stream table row column scan filter join window sort merge hash "
    "group agg query key value data batch part line order vector fast slow "
    "big small index shard token cache plan stage task file page repo commit"
).split()
STOP = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "den", "nicht"),
    "fr": ("le", "la", "les", "et", "des", "un", "une", "est", "que", "qui"),
    "es": ("el", "los", "las", "y", "en", "una", "por", "con", "para", "del"),
    "zh": (),
}
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


def write_corpus(path: str, seed: int, n_docs: int, n_vecs: int, dim: int = 32) -> int:
    """Write the two tables under ``path``; returns total bytes written."""
    rng = random.Random(seed)
    os.makedirs(path, exist_ok=True)
    texts, langs = [], []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.03:  # exact duplicate
            j = rng.randrange(len(texts))
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        if texts and r < 0.08:  # near duplicate: one word replaced
            j = rng.randrange(len(texts))
            words = texts[j].split()
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            texts.append(" ".join(words))
            langs.append(langs[j])
            continue
        lang = rng.choice(LANGS)
        n = rng.randint(8, 90)
        pool = VOCAB + list(STOP[lang]) * 2
        texts.append(" ".join(rng.choice(pool) for _ in range(n)))
        langs.append(lang)
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nrng = np.random.default_rng(seed)
    centers = nrng.normal(size=(10, dim))
    labels = nrng.integers(0, 10, size=n_vecs)
    vecs = (centers[labels] + 0.3 * nrng.normal(size=(n_vecs, dim))).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    total = 0
    for name, table in (("documents", docs), ("embeddings", emb)):
        out = os.path.join(path, f"{name}.parquet")
        pq.write_table(table, out)
        total += os.path.getsize(out)
    return total
