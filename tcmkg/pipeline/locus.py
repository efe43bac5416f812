"""Symptom→locus edges by entity-name containment (reference
merge_tcm_symptom.py:90-131).

Join shape: ENTITY-name vs ENTITY-name substring containment — the probe
string is a symptom's name, the pattern side a fixed locus surface
vocabulary. Distinct from the J4 transcript text scan (documents vs
gazetteer): here BOTH sides are entity tables.

Scale: the locus surface table is a constant (~45 rows) — broadcast
nested-loop with a `contains` theta-predicate is a single linear pass over
the symptom names, no shuffle of the symptom side beyond the final
distinct. Symptom entities are dictionary-scale today; even at millions of
entities the broadcast side stays constant, so the plan is a map-side scan
+ one distinct aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..fixtures.locus import locus_surface_rows
from .util import local_frame


def symptom_locus_edges(nodes: DataFrame) -> DataFrame:
    """nodes: the canonical node table (canonical_id, entity_type,
    names array<string>, ...) -> (subj symptom_id, obj locus_id) distinct.
    """
    surf = local_frame(
        nodes.sparkSession, locus_surface_rows(), "surface string, locus_id string"
    )
    sym = nodes.filter(F.col("entity_type") == "symptom").select(
        "canonical_id", F.explode("names").alias("name")
    )
    return (
        sym.join(F.broadcast(surf), F.col("name").contains(F.col("surface")))
        .select(
            F.col("canonical_id").alias("subj"), F.col("locus_id").alias("obj")
        )
        .distinct()
    )
