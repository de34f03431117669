"""Seeded inputs: the ``documents`` table that feeds ``synth_transcripts``.

The base table is a fixed function of its row number, so every seed sees
the same texts and the same number of documents.  The seed only remaps
``doc_id`` to a distinct id drawn from a wide range; ``synth_transcripts``
hashes ``doc_id`` into conversation ids, entity ids and template choices,
so another seed gives another corpus of the same size and shape.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark dup group query row data slow filter customer line "
    "value column big agg vector a"
).split()

# doc ids stay below this so ``ts = epoch + doc_id * 3600`` stays in range
_ID_SPACE = 10_000_000


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """Write ``documents.parquet`` (doc_id long, text string) under ``path``."""
    base = np.random.default_rng(0)
    lengths = base.integers(12, 40, size=n_docs)
    words = base.integers(0, len(_WORDS), size=int(lengths.sum()))
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(_WORDS[w] for w in words[pos:pos + n]))
        pos += n
    ids = np.random.default_rng(seed).choice(_ID_SPACE, size=n_docs, replace=False)
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
        os.path.join(path, "documents.parquet"),
    )
