"""Unit tests for the benchmark's own arithmetic and its oracles' helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.tracing import (  # noqa: E402
    Span,
    Tracer,
    edges_per_s,
    layer_of,
    percentile,
    quartiles,
    self_times,
    tail_percentile,
)


def _span(name, start, end, parent=None, **attributed):
    return Span(name, start, end, parent, "pass-0", dict(attributed))


def test_layer_of():
    assert layer_of("graph.pagerank") == "graph.pagerank"
    assert layer_of("graph.superstep") == "graph.superstep"
    assert layer_of("storage.checkpoint") == "storage"
    assert layer_of("corpus.incremental") == "corpus"
    assert layer_of("bench.pass") == "bench"


def test_self_time_subtracts_children_once():
    # pagerank [0, 10] holds two checkpoints; the second overlaps a nested
    # read [6, 8] that is its own child, so the parent loses [2,3] + [5,9]
    spans = [
        _span("bench.pass", 0.0, 12.0),
        _span("graph.pagerank", 0.0, 10.0, parent=0),
        _span("storage.checkpoint", 2.0, 3.0, parent=1),
        _span("storage.checkpoint", 5.0, 9.0, parent=1),
        _span("storage.read_state", 6.0, 8.0, parent=3),
    ]
    st = self_times(spans)
    assert st["bench"] == pytest.approx(2.0)
    assert st["graph.pagerank"] == pytest.approx(10.0 - 1.0 - 4.0)
    assert st["storage"] == pytest.approx(1.0 + (4.0 - 2.0) + 2.0)
    assert sum(st.values()) == pytest.approx(12.0)  # self times tile the root


def test_self_time_overlapping_children_counted_once():
    spans = [
        _span("graph.cc", 0.0, 10.0),
        _span("storage.checkpoint", 1.0, 4.0, parent=0),
        _span("storage.checkpoint", 3.0, 6.0, parent=0),
    ]
    assert self_times(spans)["graph.cc"] == pytest.approx(10.0 - 5.0)


def test_attributed_time_moves_to_its_layer():
    spans = [
        _span("graph.pagerank", 0.0, 10.0, **{"graph.superstep": 6.0}),
        _span("storage.checkpoint", 7.0, 9.0, parent=0),
    ]
    st = self_times(spans)
    assert st["graph.pagerank"] == pytest.approx(10.0 - 2.0 - 6.0)
    assert st["graph.superstep"] == pytest.approx(6.0)
    assert st["storage"] == pytest.approx(2.0)


def test_tracer_records_parents_and_pass_ids():
    tr = Tracer(enabled=True)
    tr.pass_id = "pass-1"
    with tr.span("graph.pagerank"):
        with tr.span("storage.checkpoint"):
            pass
    with tr.span("graph.lpa"):
        pass
    names = [(s.name, s.parent, s.pass_id) for s in tr.spans]
    assert names == [
        ("graph.pagerank", None, "pass-1"),
        ("storage.checkpoint", 0, "pass-1"),
        ("graph.lpa", None, "pass-1"),
    ]
    assert all(s.end >= s.start for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("graph.pagerank") as sp:
        assert sp is None
    assert tr.spans == []


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(99)), 0.9) is None
    assert percentile(list(range(100)), 0.9) == 89  # 10 samples rank above it
    assert percentile(list(range(19)), 0.5) is None
    assert percentile(list(range(20)), 0.5) == 9
    assert percentile([], 0.5) is None


def test_tail_percentile_is_highest_with_ten_beyond():
    assert tail_percentile(list(range(10))) is None
    p, v = tail_percentile(list(range(11)))
    assert (p, v) == (pytest.approx(1 / 11), 0)
    p, v = tail_percentile(list(range(100))[::-1])
    assert (p, v) == (pytest.approx(0.9), 89)
    assert percentile(list(range(100)), p) == v  # agrees with the p-th percentile


def test_quartiles_match_statistics_and_single_sample():
    assert quartiles([5.0]) == (5.0, 5.0, 5.0)
    q1, med, q3 = quartiles([1.0, 2.0, 3.0, 4.0, 5.0])
    assert med == 3.0 and q1 < med < q3


def test_edges_per_s():
    # PageRank: 100 edges x 3 supersteps in 1.5 s; LPA on 40 undirected
    # edges (80 traversals) x 2 supersteps in 0.5 s -> 460 traversals / 2 s
    calls = [(100, [0.5, 0.5, 0.5]), (80, [0.25, 0.25])]
    assert edges_per_s(calls) == pytest.approx(460 / 2.0)
    with pytest.raises(ValueError):
        edges_per_s([(100, [])])


def test_xxh64_reference_value():
    from perfbench.oracles import spark_xxhash64, xxh64

    assert xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert -(2**63) <= spark_xxhash64("repo000", "pkg0/mod1.py") < 2**63


def test_pagerank_cold_steps_matches_oracle_fixpoint():
    from perfbench.oracles import pagerank_cold_steps, pagerank_oracle

    src = np.array([0, 1, 2, 2, 3])
    dst = np.array([1, 2, 0, 3, 0])
    steps = pagerank_cold_steps(src, dst, tol=1e-8)
    assert 1 < steps < 200
    ranks = pagerank_oracle(src, dst)
    assert sum(ranks.values()) == pytest.approx(1.0)


def test_derive_corpus_edges_prefers_same_repo_and_latest_commit():
    from perfbench.oracles import derive_corpus_edges, spark_xxhash64

    rows = [
        ("repoA", "pkg0/mod0.py", "00", "python", "import pkg0.mod1\nimport pkg9.mod9"),
        ("repoA", "pkg0/mod0.py", "ff", "python", "import pkg0.mod1\nfrom pkg0.mod1 import x"),
        ("repoA", "pkg0/mod1.py", "01", "python", "import pkg0.mod0"),
        ("repoB", "pkg0/mod1.js", "02", "javascript", "const a = require('./pkg0/mod0');"),
        ("repoC", "pkg0/mod0.py", "03", "python", "import pkg0.mod0"),
    ]
    g = derive_corpus_edges(rows)
    vid = {k: spark_xxhash64(*k) for k in g["files"]}
    a0, a1 = vid[("repoA", "pkg0/mod0.py")], vid[("repoA", "pkg0/mod1.py")]
    b1 = vid[("repoB", "pkg0/mod1.js")]
    assert g["edges"] == {
        (a0, a1): 2,  # latest commit "ff": two statements, weight 2
        (a1, a0): 1,
        (b1, a0): 1,  # no pkg0.mod0 in repoB: smallest owning repo
        # repoC imports itself: the self-edge is dropped
    }
