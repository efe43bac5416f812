"""Expected outputs from the repo's independent oracles, and the
precision/recall arithmetic every workload reports.

The oracles share no code path with the Spark pipeline: triples come from
the plain-Python `OracleExtractor`, canonical alias maps from its
union-find `canonicalize_records`, and near-dup removals from the DuckDB
SQL that gates `q_near_dedup` in the contract.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from dataclasses import dataclass

import duckdb
import pandas as pd

from tcmkg.contract.generic import SQL_NEAR_DEDUP
from tcmkg.fixtures.gazetteers import CANON_PREFIX, Gazetteers
from tcmkg.oracle.extractor import OracleExtractor, canonicalize_records


@dataclass
class Score:
    """Set agreement between what an op returned and what the oracle says,
    summed over the ops of one run. `mismatched` counts keys present on
    both sides whose attached value (a triple's weight) disagrees."""

    true_pos: int = 0
    got: int = 0
    want: int = 0
    mismatched: int = 0

    def add(self, got: dict, want: dict) -> bool:
        """Fold one op's output in; True when it matches the oracle exactly."""
        common = got.keys() & want.keys()
        bad = sum(1 for k in common if not _same_value(got[k], want[k]))
        self.true_pos += len(common)
        self.got += len(got)
        self.want += len(want)
        self.mismatched += bad
        return bad == 0 and len(common) == len(got) == len(want)

    @property
    def precision(self) -> float:
        return self.true_pos / self.got if self.got else 0.0

    @property
    def recall(self) -> float:
        return self.true_pos / self.want if self.want else 0.0


def _same_value(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9)
    return a == b


def kg_triples(extractor: OracleExtractor, pdf: pd.DataFrame) -> dict:
    """(subj, pred, obj) -> weight for a transcript frame."""
    return {(s, p, o): w for s, p, o, w in extractor.extract(pdf.to_dict("records"))}


def spark_triples(rows) -> dict:
    return {(r["subj"], r["pred"], r["obj"]): r["weight"] for r in rows}


def alias_maps(gaz: Gazetteers) -> dict[str, dict[str, str]]:
    """entity type -> {normalized alias: canonical id}."""
    return {
        etype: canonicalize_records(records, CANON_PREFIX[etype])[1]
        for etype, records in gaz.tables().items()
    }


def near_dedup_removals(docs: pd.DataFrame, cache_dir: str) -> dict:
    """(removed_doc, keep_doc) -> via, from the contract's DuckDB oracle
    with its `documents` table bound to the generated docs. The result is
    kept in `cache_dir`, keyed by the docs, the SQL and the DuckDB version,
    so identical inputs are computed once."""
    h = hashlib.md5(SQL_NEAR_DEDUP.encode() + duckdb.__version__.encode())
    h.update(pd.util.hash_pandas_object(docs, index=False).values.tobytes())
    path = os.path.join(cache_dir, f"near_dedup-{h.hexdigest()}.json")
    if os.path.exists(path):
        with open(path) as f:
            rows = json.load(f)
    else:
        con = duckdb.connect()
        try:
            con.register("documents", docs)
            out = con.sql(SQL_NEAR_DEDUP).df()
        finally:
            con.close()
        rows = [[int(r.removed_doc), int(r.keep_doc), r.via] for r in out.itertuples()]
        os.makedirs(cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(rows, f)
        os.replace(path + ".tmp", path)
    return {(a, b): via for a, b, via in rows}
