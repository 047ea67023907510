"""Seeded benchmark inputs.

Every input is a pure function of ``(size, seed)``: transcripts come from
``datagen.synth_transcripts(seed=...)``; documents are the fixed
5000-document ``sf0.1`` corpus kept in ``data/documents.parquet``, of
which the seed picks only the held-out eval slice. Two runs with the same
seed read identical bytes.
"""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq

from otel2pv_spark import datagen

DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")
EVAL_FRAC = 0.02


def write_transcripts(spark, path: str, n_convs: int, seed: int) -> int:
    """Materialize the synthetic transcript table; returns its row count."""
    datagen.synth_transcripts(spark, n_convs=n_convs, seed=seed).write.mode(
        "overwrite"
    ).parquet(path)
    return spark.read.parquet(path).count()


def write_documents(docs_path: str, eval_path: str, n_docs: int, seed: int) -> tuple[int, int]:
    """The first ``n_docs`` documents of the corpus, plus a held-out eval
    slice of a seed-chosen ``EVAL_FRAC`` of them. Returns (documents
    written, eval documents written)."""
    docs = pq.read_table(DOCUMENTS, columns=["doc_id", "text"]).slice(0, n_docs)
    rows = random.Random(seed).sample(range(docs.num_rows), max(1, int(docs.num_rows * EVAL_FRAC)))
    evals = docs.take(sorted(rows))
    pq.write_table(docs, docs_path)
    pq.write_table(evals, eval_path)
    return docs.num_rows, evals.num_rows
