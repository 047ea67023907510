"""Output checks: order-independent fingerprints and independent oracles.

A fingerprint is ``(row count, sum of xxhash64 over the named columns)``,
so it does not depend on file layout, partitioning or row order. The
oracles recompute what the synthetic inputs imply without Spark's
operators: prev links and parse rejects from the transcript text, and
the exact-duplicate count from the document text.
"""

from __future__ import annotations

from collections import defaultdict

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from otel2pv_spark.plans.pipeline import OUTPUT_COLS, REJECT_COLS

AUDIT_COLS = ["doc_id", "cluster_id", "kept", "drop_reason", "split"]


def fingerprint(df: DataFrame, cols: list[str]) -> tuple[int, str]:
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count("*"), F.coalesce(F.sum("h"), F.lit(0))
    ).head()
    return int(row[0]), str(row[1])


def pipeline_fingerprint(cat) -> dict:
    """Fingerprint of the two committed sink tables of a pipeline run.
    ``src_partition_id`` is left out: it names the input split a row
    came from, which an incremental merge legitimately changes."""
    return {
        "sequenced_events": fingerprint(cat.read("sequenced_events"), OUTPUT_COLS),
        "rejects": fingerprint(cat.read("rejects"), REJECT_COLS),
    }


def audit_fingerprint(cat) -> tuple[int, str]:
    return fingerprint(cat.read("audit"), AUDIT_COLS)


def expected_links(transcripts_path: str) -> dict:
    """Oracle for ``datagen.synth_transcripts`` inputs: every turn's
    expected prev link (None at turn 0 and after a garbled turn) or the
    marker ``"invalid_parse"`` for a garbled turn."""
    t = pq.read_table(transcripts_path, columns=["conv_id", "turn_idx", "text"])
    garbled = defaultdict(set)
    turns = []
    for conv, idx, text in zip(
        t.column("conv_id").to_pylist(),
        t.column("turn_idx").to_pylist(),
        t.column("text").to_pylist(),
    ):
        turns.append((conv, idx))
        if text.startswith("garbled"):
            garbled[conv].add(idx)
    out = {}
    for conv, idx in turns:
        bad = garbled.get(conv, ())
        if idx in bad:
            out[(conv, idx)] = "invalid_parse"
        elif idx == 0 or (idx - 1) in bad:
            out[(conv, idx)] = None
        else:
            out[(conv, idx)] = f"{conv}:{idx - 1}"
    return out


def links_match(cat, expected: dict) -> bool:
    """Compare a committed pipeline output against :func:`expected_links`:
    each input turn appears exactly once across both tables, garbled turns
    as parse rejects, every other turn with its expected prev link."""
    rows = (
        cat.read("sequenced_events")
        .select("conv_id", "turn_idx", "previous_event_ids", F.lit(None).cast("string").alias("r"))
        .unionByName(
            cat.read("rejects").select(
                "conv_id", "turn_idx", "previous_event_ids", F.col("reject_reason").alias("r")
            )
        )
        .collect()
    )
    if len(rows) != len(expected):
        return False
    seen = set()
    for conv, idx, prev, reason in rows:
        key = (conv, idx)
        if key in seen or key not in expected:
            return False
        seen.add(key)
        want = expected[key]
        if want == "invalid_parse":
            if reason != "invalid_parse":
                return False
        elif reason == "invalid_parse" or (prev[0] if prev else None) != want:
            return False
    return True


def expected_duplicates(docs_path: str) -> int:
    """Documents whose text repeats an earlier document's text: the exact
    duplicates curation must drop (the corpus carries no PII, so
    scrubbing leaves its text unchanged)."""
    texts = pq.read_table(docs_path, columns=["text"]).column("text").to_pylist()
    return len(texts) - len(set(texts))
