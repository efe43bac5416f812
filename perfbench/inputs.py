"""Seeded input generation. The program under test only ever sees what these
functions produce; the same seed always gives the same inputs.

Every input is built from the repo's own deterministic fixtures
(`tcmkg.fixtures`), addressed by a seed-derived conversation offset, so a
seed selects a different slice of the same generator rather than a
different distribution.
"""

from __future__ import annotations

import os
import random
import re

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from tcmkg.fixtures.gazetteers import Gazetteers, build_gazetteers
from tcmkg.fixtures.transcripts import generate_pandas

# transcript rows as the pipeline reads them from files (microsecond ts:
# Spark rejects parquet nanosecond timestamps)
TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

# conversation ids are formatted with 7 digits; keep every slice below that
_OFFSET_SLOTS = 1000
_SLOT_WIDTH = 5000

# clause separators of the generated turn texts (full- and half-width)
_CLAUSE_SPLIT = re.compile(r"[，。、：；！？,.;:]")


def conv_offset(seed: int, salt: int = 0) -> int:
    """First conversation index of the slice a (seed, salt) pair selects."""
    slot = random.Random(f"{seed}:{salt}").randrange(_OFFSET_SLOTS)
    return slot * _SLOT_WIDTH


def transcripts(seed: int, n_conversations: int, salt: int = 0) -> pd.DataFrame:
    """Transcript rows of `n_conversations` whole conversations."""
    return generate_pandas(n_conversations, conv_offset=conv_offset(seed, salt))


def tranche(seed: int, index: int, n_conversations: int, after: int) -> pd.DataFrame:
    """The index-th incremental tranche: whole conversations that follow the
    first `after` conversations of the seed's slice (the base)."""
    start = conv_offset(seed) + after + index * n_conversations
    return generate_pandas(n_conversations, conv_offset=start)


def write_transcripts(pdf: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=TRANSCRIPT_SCHEMA, preserve_index=False),
        path,
    )


def documents(n_docs: int) -> pd.DataFrame:
    """(doc_id int64, text) documents for near-dup dedup, the same for
    every seed.

    Each document is one distinct turn text, tokenized into its clauses and
    joined by spaces (near_dedup tokenizes on spaces). Turns built from one
    template share their filler clauses, so the corpus has real
    near-duplicate clusters. The number of connected-components rounds, and
    with it op time, depends on the cluster shapes, on the doc ids and even
    on row order; a seed that changed any of them made op time follow the
    seed, so the seed changes none of them."""
    texts: list[str] = []
    seen: set[str] = set()
    salt = 0
    while len(texts) < n_docs:
        for t in transcripts(0, 200, salt=100 + salt)["text"]:
            if t not in seen:
                seen.add(t)
                texts.append(t)
        salt += 1
    rows = [
        {"doc_id": i, "text": " ".join(c for c in _CLAUSE_SPLIT.split(t) if c)}
        for i, t in enumerate(texts[:n_docs])
    ]
    return pd.DataFrame(rows).astype({"doc_id": "int64"})


def permuted_gazetteers(seed: int) -> Gazetteers:
    """The fixture gazetteers with each type's record order permuted by the
    seed: canonical ids must not depend on input order."""
    gaz = build_gazetteers()
    rng = random.Random(seed)
    for records in gaz.tables().values():
        rng.shuffle(records)
    return gaz
