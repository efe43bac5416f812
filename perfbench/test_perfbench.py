"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
from oracles import Score  # noqa: E402
from tracing import Tracer, layer_totals, self_times  # noqa: E402


def test_transcripts_same_seed_same_rows():
    a, b = inputs.transcripts(7, 15), inputs.transcripts(7, 15)
    assert a.equals(b)
    assert not a.equals(inputs.transcripts(8, 15))


def test_tranches_follow_the_base_without_overlap():
    base = set(inputs.transcripts(7, 30)["conv_id"])
    t0 = set(inputs.tranche(7, 0, 10, after=30)["conv_id"])
    t1 = set(inputs.tranche(7, 1, 10, after=30)["conv_id"])
    assert len(t0) == len(t1) == 10
    assert not (base & t0) and not (t0 & t1)
    assert t0 == set(inputs.tranche(7, 0, 10, after=30)["conv_id"])


def test_documents_deterministic_and_space_tokenized():
    a = inputs.documents(60)
    assert a.equals(inputs.documents(60))
    assert list(a["doc_id"]) == list(range(60))
    assert a["text"].str.contains(" ").all()
    assert a["text"].is_unique


def test_permuted_gazetteers_permute_only_order():
    from tcmkg.fixtures.gazetteers import build_gazetteers

    ref = build_gazetteers().tables()
    p1, p2 = inputs.permuted_gazetteers(5).tables(), inputs.permuted_gazetteers(5).tables()
    for etype, records in ref.items():
        ids = [r.record_id for r in p1[etype]]
        assert ids == [r.record_id for r in p2[etype]]
        assert sorted(ids) == sorted(r.record_id for r in records)
    assert any(
        [r.record_id for r in p1[t]] != [r.record_id for r in ref[t]] for t in ref
    )


def test_score_exact_match():
    s = Score()
    assert s.add({("a", "p", "b"): 1.0, ("c", "p", "d"): None},
                 {("a", "p", "b"): 1.0, ("c", "p", "d"): None})
    assert (s.precision, s.recall, s.mismatched) == (1.0, 1.0, 0)


def test_score_precision_recall_arithmetic():
    s = Score()
    # got 4, want 5, 3 in common -> P = 3/4, R = 3/5
    got = {k: None for k in "abcx"}
    want = {k: None for k in "abcyz"}
    assert not s.add(got, want)
    assert (s.precision, s.recall) == (0.75, 0.6)
    # a second op folds into the same totals: 3+2 / 4+2, 3+2 / 5+2
    assert s.add({"p": 1, "q": 2}, {"p": 1, "q": 2})
    assert (s.precision, s.recall) == (5 / 6, 5 / 7)


def test_score_counts_value_mismatch_as_failure():
    s = Score()
    assert not s.add({"k": 2.0}, {"k": 2.5})
    assert s.add({"k": 1.0 + 1e-12}, {"k": 1.0})
    assert not s.add({"k": None}, {"k": 0.0})
    assert s.mismatched == 2
    assert (s.precision, s.recall) == (1.0, 1.0)  # keys agree; values do not


def test_score_empty_is_zero_not_error():
    s = Score()
    assert (s.precision, s.recall) == (0.0, 0.0)


def _span(i, name, start, end, parent=None, **counters):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent,
            "trace_id": "t", **counters}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "a", 1.0, 3.0, parent=0),
        _span(2, "b", 2.0, 5.0, parent=0),   # overlaps a: union 1..5
        _span(3, "c", 8.0, 12.0, parent=0),  # clipped to the parent: 8..10
        _span(4, "d", 8.5, 9.0, parent=3),
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - 4.0 - 2.0
    assert st[1] == 2.0 and st[2] == 3.0
    assert st[3] == 4.0 - 0.5
    assert st[4] == 0.5


def test_layer_totals_sum_self_time_and_counters():
    spans = [
        _span(0, "op", 0.0, 10.0, jobs=1),
        _span(1, "x", 1.0, 4.0, parent=0, jobs=2, rows_out=5),
        _span(2, "x", 5.0, 6.0, parent=0, jobs=3, rows_out=7),
    ]
    out = layer_totals(spans, ["x", "unused"])
    assert out["x.wall_s"] == 4.0
    assert out["x.jobs"] == 5 and out["x.rows_out"] == 12
    assert out["unused.wall_s"] == 0.0
    assert "op.wall_s" not in out


def test_tracer_nesting_without_spark():
    tr = Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            inner["rows_out"] = 3
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert {s["trace_id"] for s in tr.spans} == {tr.trace_id}
