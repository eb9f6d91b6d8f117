"""Seeded generator of the ``documents`` table the operators read.

Same schema and shape as the repository's synthetic test tables
(``documents.parquet`` at each scale factor):
``(doc_id int64, text string, lang string, source string, n_chars int64)``,
10-99 words per text drawn uniformly from a 30-word vocabulary, ``source``
cycling over 20 values, ``lang`` about 41% ``en`` and the rest split over
four languages, and 5% of documents a near-duplicate of an earlier one (its
text plus the word ``dup``). ``n_docs=5000`` matches scale factor 0.1.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq

SF01_DOCS = 5000

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_WEIGHTS = (41, 15, 15, 15, 14)
NEAR_DUP_SHARE = 0.05

SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def make_documents(seed: int, n_docs: int = SF01_DOCS) -> pa.Table:
    """The table for ``seed``."""
    rng = random.Random(f"documents:{seed}")
    texts, langs = [], []
    for i in range(n_docs):
        if i >= 20 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99))))
        langs.append(rng.choices(_LANGS, _LANG_WEIGHTS)[0])
    return pa.table(
        {
            "doc_id": range(n_docs),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        },
        schema=SCHEMA,
    )


def write_documents(table: pa.Table, sf_dir: str) -> str:
    """Write ``documents.parquet`` into ``sf_dir`` as one row group, the
    layout of the synthetic test tables; returns the file path."""
    path = f"{sf_dir}/documents.parquet"
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return path
