"""P6: Python-literal dict strings -> typed Spark columns (SURVEY §2.2).

The reference stores PharMeBINet node properties as *Python*-literal dict
strings in CSV cells and parses them row-by-row with `ast.literal_eval`
(extract_ingredient.py:174-176, extract_other_entities.py:41-43,
extract_mm_symmptom.py:66), sometimes after a crude `"true" -> "True"`
patch (extract_other_entities.py:42). Downstream it pulls:

  - external ids out of the `xrefs` list: "DB:rest-of-id" entries split on
    the FIRST colon, per-database `;`-joined, None when absent
    (merge_utility.py:263-287 `extract_external_ids`);
  - named properties verbatim, None when missing
    (merge_utility.py:290-307 `extract_properties`).

Spark-first shape: ONE vectorized pandas UDF turns the string column into
`map<string, array<string>>` (every value normalized to an array of
strings — scalars become 1-element arrays, so one Spark type covers str /
int / bool / list values); everything downstream is native column algebra
(F.filter / F.transform / F.split), no Python per key.

Malformed cells parse to NULL (data, not a crash); the JSON-style literals
`true/false/null` are retried as `True/False/None` — a superset of the
reference's patch.
"""

from __future__ import annotations

import ast
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_JSON_WORDS = re.compile(r"\b(true|false|null)\b")
_JSON_FIX = {"true": "True", "false": "False", "null": "None"}


def parse_literal_dict_py(s: str | None) -> dict[str, list[str]] | None:
    """Pure-Python single-cell parse (shared by the UDF and the oracle)."""
    if s is None:
        return None
    try:
        obj = ast.literal_eval(s)
    except (ValueError, SyntaxError):
        try:
            obj = ast.literal_eval(_JSON_WORDS.sub(lambda m: _JSON_FIX[m.group(0)], s))
        except (ValueError, SyntaxError):
            return None
    if not isinstance(obj, dict):
        return None
    out: dict[str, list[str]] = {}
    for k, v in obj.items():
        if isinstance(v, (list, tuple)):
            out[str(k)] = [str(x) for x in v]
        else:
            out[str(k)] = [str(v)]
    return out


@F.pandas_udf(T.MapType(T.StringType(), T.ArrayType(T.StringType())))
def parse_literal_dict(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Vectorized per Arrow batch; one Python pass, no per-row Spark UDF."""
    for batch in it:
        yield batch.map(parse_literal_dict_py)


def prop_first(parsed: Column, key: str) -> Column:
    """Scalar property: first element of the normalized array, or NULL.

    try_element_at, not element_at: under Spark 4 ANSI mode an EMPTY array
    value (e.g. {'xrefs': []}) would make element_at raise
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT — this module's contract is data, not
    a crash (the reference's extract_properties returns the empty value
    without crashing, merge_utility.py:290-307)."""
    return F.try_element_at(parsed.getItem(key), F.lit(1))


def xref_ids(parsed: Column, database: str, xrefs_key: str = "xrefs") -> Column:
    """extract_external_ids for one database, as a column expression:
    entries of the `xrefs` list whose prefix (before the FIRST colon) equals
    `database`, suffixes `;`-joined; NULL when none match (reference
    semantics merge_utility.py:277-286)."""
    matches = F.filter(
        F.coalesce(parsed.getItem(xrefs_key), F.array()),
        lambda x: F.split(x, ":", 2).getItem(0) == database,
    )
    # try_element_at: a colon-less xref entry has no suffix — yield NULL for
    # that entry instead of an ANSI-mode crash (the reference would crash
    # here; "data, not a crash" is this module's documented superset).
    # NULL ids are then filtered BEFORE the size check: a record whose only
    # matching entry is colon-less must return NULL, not '' (array_join
    # drops NULLs, and a shared '' would cross-link such records in
    # downstream equality joins).
    ids = F.filter(
        F.transform(matches, lambda x: F.try_element_at(F.split(x, ":", 2), F.lit(2))),
        lambda x: x.isNotNull(),
    )
    return F.when(F.size(ids) > 0, F.array_join(ids, ";"))


def extract_external_ids(
    df: DataFrame, props_col: str, databases: list[str], xrefs_key: str = "xrefs"
) -> DataFrame:
    """Adds `<db>_id` columns from a parsed properties map column."""
    parsed = F.col(props_col)
    for db in databases:
        df = df.withColumn(f"{db}_id", xref_ids(parsed, db, xrefs_key))
    return df
