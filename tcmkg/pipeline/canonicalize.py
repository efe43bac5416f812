"""Entity canonicalization: connected components over the alias/ID graph.

Spark-native equivalent of the reference's union-find merge
(processed_code/merge_utility.py:166-231) and the canonical-ID assignment
(extract_herb.py:447-449 style `PREFIX{:05d}` by merged row order), for
any number of entity types in one pass, each named by its id prefix:

  1. explode every record's `;`-joined keys into (record_id, (kind, key))
     incidence rows — name keys, symmap keys, external-DB keys each in their
     own namespace (a name can't merge with an ID that spells the same);
     record ids and keys are namespaced by the type prefix too, so no key
     links two types;
  2. connected components (cc.py): each key becomes a star of pair edges
     from its minimum member (cc.key_edges), then the one pair-edge
     min-label propagation loop (cc.connected_components_edges) runs;
  3. component representative = min record_id ("first occurrence wins" under
     lexicographic record ids);
  4. canonical id = PREFIX + zero-padded rank of the representative within
     its type: one stable rank over every type's representatives
     (pipeline/util.stable_rank) minus the type's smallest rank;
  5. alias map = exploded names -> canonical id per type, collisions
     resolved to the minimum canonical id (deterministic; the oracle uses
     the same rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernels.normalize import text_norm
from .cc import connected_components_edges, key_edges
from .util import stable_rank

# type prefix / id separator: it sorts below every id character, so each
# type's namespaced representatives are one contiguous run of the ranking
_SEP = "\x00"


def gazetteer_incidence(records: DataFrame) -> DataFrame:
    """records(record_id, names, symmap_id, extdb_id) -> (node, key)."""
    keys = []
    for col, kind in (("names", "name"), ("symmap_id", "symmap"), ("extdb_id", "extdb")):
        keys.append(
            records.select(
                F.col("record_id").alias("node"),
                F.explode(
                    F.transform(F.split(F.col(col), ";"), lambda x: F.trim(x))
                ).alias("_tok"),
            )
            .filter(F.col("_tok").isNotNull() & (F.col("_tok") != ""))
            .select("node", F.concat(F.lit(kind + ":"), F.col("_tok")).alias("key"))
        )
    out = keys[0]
    for k in keys[1:]:
        out = out.unionByName(k)
    return out


def canonicalize(records: DataFrame, prefix: str | Column) -> tuple[DataFrame, DataFrame]:
    """-> (rec2canon(prefix, record_id, canonical_id),
    alias2canon(prefix, alias, canonical_id)).

    `prefix` is one type's id prefix, or a column of `records` naming each
    record's; record ids need only be unique within a prefix. `records` is
    a gazetteer record table; small enough to broadcast by definition (it
    is the dictionary side), but every step here is also correct at
    fact-table scale — CC and ranking never collapse to one task.
    """
    if isinstance(prefix, str):
        prefix = F.lit(prefix)
    ns = records.withColumn("record_id", F.concat(prefix, F.lit(_SEP), "record_id"))
    inc = gazetteer_incidence(ns).select(
        "node", F.concat(F.substring_index("node", _SEP, 1), F.lit(_SEP), "key").alias("key")
    )
    comp = connected_components_edges(key_edges(inc))  # (node, component)

    reps = comp.select(F.col("component").alias("rep")).distinct()
    ranked = stable_rank(reps, "rep", "rank").withColumn(
        "prefix", F.substring_index("rep", _SEP, 1)
    )
    offsets = ranked.groupBy("prefix").agg(F.min("rank").alias("offset"))
    canon = ranked.join(F.broadcast(offsets), "prefix").select(
        "rep",
        F.format_string("%s%05d", "prefix", (F.col("rank") - F.col("offset")).cast("int"))
        .alias("canonical_id"),
    )
    rec2canon = comp.join(F.broadcast(canon), comp.component == canon.rep).select(
        F.substring_index("node", _SEP, 1).alias("prefix"),
        F.substring_index("node", _SEP, -1).alias("record_id"),
        "canonical_id",
    )

    names = records.select(
        prefix.alias("prefix"),
        "record_id",
        F.explode(F.transform(F.split("names", ";"), lambda x: F.trim(x))).alias("alias"),
    ).filter(F.col("alias") != "")
    alias2canon = (
        names.join(rec2canon, ["prefix", "record_id"])
        .groupBy("prefix", "alias")
        .agg(F.min("canonical_id").alias("canonical_id"))
    )
    return rec2canon, alias2canon


def normalize_alias_map(alias_rows: list[tuple[str, str]]) -> dict[str, str]:
    """Driver-side: normalized alias -> canonical id dict (broadcast to the
    mention kernels). Uses the SAME text normalization (text_norm: Q2B +
    lowercase) that transcript text gets before matching, so lookup keys
    always agree with scanned text. Collisions -> min canonical id."""
    out: dict[str, str] = {}
    for alias, canon in alias_rows:
        norm = text_norm(alias)
        if norm in out:
            out[norm] = min(out[norm], canon)
        else:
            out[norm] = canon
    return out
