"""Connected-components correctness: property-based vs pure-Python union-find
(SURVEY.md §5.2 item 4)."""

import pytest
from hypothesis import given, settings, strategies as st

from tcmkg.oracle.extractor import _UnionFind


def _uf_components(pairs):
    uf = _UnionFind()
    nodes = set()
    for n, k in pairs:
        nodes.add(n)
        uf.union(f"n:{n}", f"k:{k}")
    return {n: uf.find(f"n:{n}") for n in nodes}


def _group(labels: dict) -> set[frozenset]:
    from collections import defaultdict

    g = defaultdict(set)
    for n, c in labels.items():
        g[c].add(n)
    return {frozenset(v) for v in g.values()}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 12)),
        min_size=1, max_size=120,
    )
)
def test_cc_matches_union_find(spark, pairs):
    from tcmkg.pipeline.cc import connected_components_edges, key_edges

    inc = spark.createDataFrame(
        [(f"n{n:03d}", f"k{k:03d}") for n, k in pairs], "node string, key string"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components_edges(key_edges(inc)).collect()
    }
    want = _uf_components([(f"n{n:03d}", f"k{k:03d}") for n, k in pairs])
    # same grouping
    assert _group(got) == _group(want)
    # representative = min node id of the component (determinism contract)
    for n, c in got.items():
        assert c == min(_g for _g in got if got[_g] == c)


def test_cc_chain_and_hot_key(spark):
    """Chain A-B-C-D through distinct keys + one hot key shared by many."""
    from tcmkg.pipeline.cc import connected_components_edges, key_edges

    rows = [("a", "k1"), ("b", "k1"), ("b", "k2"), ("c", "k2"), ("c", "k3"), ("d", "k3")]
    rows += [(f"z{i:04d}", "hot") for i in range(500)]
    inc = spark.createDataFrame(rows, "node string, key string")
    got = {
        r["node"]: r["component"]
        for r in connected_components_edges(key_edges(inc)).collect()
    }
    assert got["a"] == got["b"] == got["c"] == got["d"] == "a"
    assert got["z0499"] == "z0000"
    assert len(got) == 504


def test_stable_rank(spark):
    from tcmkg.pipeline.util import stable_rank

    vals = [f"v{i:05d}" for i in range(999)]
    df = spark.createDataFrame([(v,) for v in reversed(vals)], "x string")
    got = {r["x"]: r["rank"] for r in stable_rank(df, "x", num_partitions=7).collect()}
    assert got == {v: i for i, v in enumerate(vals)}


def test_salted_distinct_count(spark):
    from tcmkg.pipeline.util import salted_distinct_count

    rows = [("a", i % 5) for i in range(100)] + [("b", i) for i in range(7)]
    df = spark.createDataFrame(rows, "k string, v int")
    got = {r["k"]: r["n_distinct"] for r in salted_distinct_count(df, ["k"], "v").collect()}
    assert got == {"a": 5, "b": 7}


def test_cc_medium_scale(spark):
    """A 60k-node / 75k-incidence graph with long chains and a giant skewed
    component: converges, deterministic min-representatives, sane runtime."""
    from tcmkg.pipeline.cc import connected_components_edges, key_edges

    rows = []
    # 5k chain components of length 10 (diameter stress)
    for comp in range(5000):
        for j in range(9):
            rows.append((f"n{comp:05d}_{j:02d}", f"k{comp:05d}_{j:02d}"))
            rows.append((f"n{comp:05d}_{j+1:02d}", f"k{comp:05d}_{j:02d}"))
    # one giant skewed component: 10k nodes on one hot key
    rows += [(f"hot{i:05d}", "HOTKEY") for i in range(10000)]
    inc = spark.createDataFrame(rows, "node string, key string")
    got = connected_components_edges(key_edges(inc), max_iter=30)
    comps = {r["node"]: r["component"] for r in got.collect()}
    assert comps["hot09999"] == "hot00000"
    assert comps["n00042_09"] == "n00042_00"
    assert len({c for n, c in comps.items() if n.startswith("n")}) == 5000


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1, max_size=100,
    )
)
def test_cc_edges_matches_union_find(spark, pairs):
    """r6 pair-edge fast path: same components + same min-id representative
    as a pure-Python union-find, on arbitrary edge lists (self-loops and
    duplicate/reversed edges included by generation)."""
    from tcmkg.pipeline.cc import connected_components_edges

    edges = spark.createDataFrame(
        [(f"n{a:03d}", f"n{b:03d}") for a, b in pairs], "a string, b string"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components_edges(edges).collect()
    }
    uf = _UnionFind()
    nodes = set()
    for a, b in pairs:
        nodes.add(f"n{a:03d}"); nodes.add(f"n{b:03d}")
        uf.union(f"n{a:03d}", f"n{b:03d}")
    want = {n: uf.find(n) for n in nodes}
    assert _group(got) == _group(want)
    for n, c in got.items():
        assert c == min(_g for _g in got if got[_g] == c)


def test_cc_edges_detects_checkpoint_leaf(spark):
    """CC skips materializing its input only when that input is already an
    eager checkpoint leaf (the dedup chain's tagged edge union): labels are
    identical either way, the leaf runs one job fewer, and a lazy
    checkpoint or a projection over a leaf is not taken for one."""
    from tcmkg.pipeline.cc import _is_checkpoint_leaf, connected_components_edges

    sc = spark.sparkContext
    rows = [(f"n{a:03d}", f"n{b:03d}") for a, b in
            [(0, 1), (1, 2), (5, 6), (6, 7), (7, 5), (9, 9)]]
    plain = spark.createDataFrame(rows, "a string, b string")
    leaf = plain.localCheckpoint()

    def run(edges, group):
        sc.setJobGroup(group, group)
        try:
            got = {
                r["node"]: r["component"]
                for r in connected_components_edges(edges).collect()
            }
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return got, len(sc.statusTracker().getJobIdsForGroup(group))

    # AQE submits query stages as jobs whose number varies with timing, so
    # jobs are counted with it off: then each action is a fixed job set
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got_plain, jobs_plain = run(plain, "cc-leaf-test-plain")
        got_leaf, jobs_leaf = run(leaf, "cc-leaf-test-leaf")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert got_plain == got_leaf
    assert set(got_leaf.values()) == {"n000", "n005", "n009"}
    # the one job saved is the input checkpoint
    assert jobs_leaf == jobs_plain - 1

    assert _is_checkpoint_leaf(leaf)
    assert not _is_checkpoint_leaf(plain)
    assert not _is_checkpoint_leaf(plain.localCheckpoint(eager=False))
    assert not _is_checkpoint_leaf(leaf.select("a", "b"))
    assert not _is_checkpoint_leaf(leaf.filter("a != b"))


def test_cc_edges_label_hooks(spark):
    """Hooks connect a node to its current label — always intra-component
    — so the fixpoint is the union-find partition with min-id
    representatives, and a diameter-60 chain (which unhooked propagation
    cannot finish inside the default max_iter=25) converges to the single
    true component."""
    import warnings

    from tcmkg.pipeline.cc import connected_components_edges

    pairs = [(0, 1), (1, 2), (2, 3), (7, 8), (8, 9)]
    edges = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in pairs], "a string, b string"
    )
    got = {r["node"]: r["component"]
           for r in connected_components_edges(edges).collect()}
    uf = _UnionFind()
    for a, b in pairs:
        uf.union(f"n{a}", f"n{b}")
    assert got == {n: uf.find(n) for n in got}
    assert set(got.values()) == {"n0", "n7"} and len(got) == 7

    chain = spark.createDataFrame(
        [(f"n{i:05d}", f"n{i + 1:05d}") for i in range(60)], "a string, b string"
    )
    with warnings.catch_warnings():
        # only the non-convergence warning is the failure signal; other
        # library warnings during collect() must not fail the test
        warnings.filterwarnings("error", message=".*did not converge.*")
        got = {r["node"]: r["component"]
               for r in connected_components_edges(chain).collect()}
    assert set(got.values()) == {"n00000"} and len(got) == 61


def test_cc_edges_long_chain_block_boundary(spark):
    """A diameter-long chain crossing several 3-round blocks: the
    block-boundary convergence check (label monotone, stationary) must not
    stop early, and the converged label is the chain minimum."""
    from tcmkg.pipeline.cc import connected_components_edges

    n = 14  # diameter 13 > 4 blocks of 3 rounds
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)], "a string, b string"
    )
    got = {r["node"]: r["component"] for r in connected_components_edges(edges).collect()}
    assert set(got.values()) == {"n00"}
    assert len(got) == n + 1


@pytest.mark.parametrize("etype", ["herb", "symptom", "all"])
def test_canonicalize_matches_oracle(spark, etype):
    """canonicalize (hyper-keys reduced to pair edges, then the pair-edge
    CC) gives the oracle union-find's alias map, in fixture record order
    and in a shuffled one: canonical ids do not depend on input order.
    "all" canonicalizes the nine types in one call, each record tagged
    with its type's prefix; each type's map must equal its own oracle's."""
    import random

    from pyspark.sql import functions as F

    from tcmkg.fixtures.gazetteers import (
        CANON_PREFIX, build_gazetteers, records_to_rows,
    )
    from tcmkg.oracle.extractor import canonicalize_records
    from tcmkg.pipeline.canonicalize import canonicalize, normalize_alias_map

    tables = build_gazetteers().tables()
    etypes = list(tables) if etype == "all" else [etype]
    rows = [
        dict(row, prefix=CANON_PREFIX[t]) for t in etypes for row in records_to_rows(tables[t])
    ]
    shuffled = list(rows)
    random.Random(7).shuffle(shuffled)
    schema = "prefix string, record_id string, names string, symmap_id string, extdb_id string"
    prefix = F.col("prefix") if etype == "all" else CANON_PREFIX[etype]
    for order in (rows, shuffled):
        rec_df = spark.createDataFrame(order, schema)
        _, alias2canon = canonicalize(rec_df, prefix)
        pairs = {CANON_PREFIX[t]: [] for t in etypes}
        for r in alias2canon.collect():
            pairs[r["prefix"]].append((r["alias"], r["canonical_id"]))
        for t in etypes:
            want = canonicalize_records(tables[t], CANON_PREFIX[t])[1]
            assert normalize_alias_map(pairs[CANON_PREFIX[t]]) == want, t


def test_canonicalize_keeps_types_apart(spark):
    """Two types whose records share a name, a symmap id, an extdb id and a
    record id, canonicalized in one call: nothing links the types. Each
    keeps its own components, numbered from its own prefix's 00000."""
    from pyspark.sql import functions as F

    from tcmkg.pipeline.canonicalize import canonicalize

    rows = [
        ("TMHB", "R1", "甘草;国老", "SM1", "DB1"),
        ("TMHB", "R2", "国老", "", ""),
        ("TMHB", "R3", "人参", "", ""),
        ("TMTS", "R1", "甘草", "SM1", "DB1"),
        ("TMTS", "R0", "头痛", "", "DB1"),
        ("TMTS", "R4", "人参", "SM1", ""),
    ]
    rec_df = spark.createDataFrame(
        rows, "prefix string, record_id string, names string, symmap_id string, extdb_id string"
    )
    rec2canon, alias2canon = canonicalize(rec_df, F.col("prefix"))
    assert {(r["prefix"], r["record_id"]): r["canonical_id"] for r in rec2canon.collect()} == {
        ("TMHB", "R1"): "TMHB00000",
        ("TMHB", "R2"): "TMHB00000",
        ("TMHB", "R3"): "TMHB00001",
        ("TMTS", "R0"): "TMTS00000",
        ("TMTS", "R1"): "TMTS00000",
        ("TMTS", "R4"): "TMTS00000",
    }
    assert {(r["prefix"], r["alias"]): r["canonical_id"] for r in alias2canon.collect()} == {
        ("TMHB", "甘草"): "TMHB00000",
        ("TMHB", "国老"): "TMHB00000",
        ("TMHB", "人参"): "TMHB00001",
        ("TMTS", "甘草"): "TMTS00000",
        ("TMTS", "头痛"): "TMTS00000",
        ("TMTS", "人参"): "TMTS00000",
    }
