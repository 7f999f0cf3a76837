"""The connected-components small-graph fast path (optimization r14)
must be bit-identical to the distributed fixpoint loop on the same
edge list, and the shared driver byte budget must route correctly at
its boundary."""

from __future__ import annotations

import etl_challenge_localiza_spark.functions.localrel as L
import etl_challenge_localiza_spark.operators.components as C

_LOCAL_COMPONENTS = C._local_components


def _pseudorandom_edges(n_nodes=80, window=40, block=10):
    # sparse edges only within blocks of ``block`` nodes, so the graph
    # has several components (some blocks split further)
    pairs = []
    for i in range(n_nodes):
        for j in range(i + 1, n_nodes):
            if i // block != j // block:
                continue
            h = (i * 2654435761 + j * 40503 + 11) % 193
            if h < window:
                pairs.append((j, i) if h % 2 else (i, j))
    return pairs


def _run(spark, pairs, budget, monkeypatch, schema="src long, dst long"):
    """Labels of ``pairs`` under a ``budget``-byte driver budget, and
    whether the driver-local union-find ran."""
    monkeypatch.setattr(L, "LOCAL_BUDGET_BYTES", budget)
    calls = []

    def spy(rows):
        calls.append(1)
        return _LOCAL_COMPONENTS(rows)

    monkeypatch.setattr(C, "_local_components", spy)
    df = spark.createDataFrame(pairs, schema)
    labels = sorted(
        (r.node, r.component) for r in C.connected_components(df).collect()
    )
    return labels, bool(calls)


def test_fast_path_matches_distributed_loop(spark, monkeypatch):
    pairs = _pseudorandom_edges()
    fast, fast_local = _run(spark, pairs, budget=10**9, monkeypatch=monkeypatch)
    loop, loop_local = _run(spark, pairs, budget=0, monkeypatch=monkeypatch)
    assert (fast_local, loop_local) == (True, False)
    assert fast == loop
    # non-degenerate fixture: several multi-node components exist
    comps = {c for _n, c in fast}
    assert 1 < len(comps) < len(fast)


def test_byte_budget_boundary_routes_exactly(spark, monkeypatch):
    pairs = [(1, 2), (2, 3), (10, 11)]
    size = len(pairs) * L.EDGE_BYTES
    # budget == edge bytes → fast path; one byte less → loop.
    at = _run(spark, pairs, budget=size, monkeypatch=monkeypatch)
    below = _run(spark, pairs, budget=size - 1, monkeypatch=monkeypatch)
    want = [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]
    assert at == (want, True)
    assert below == (want, False)


def test_string_ids_take_the_distributed_loop(spark, monkeypatch):
    """String ids have no fixed width, so no budget admits them: the
    distributed loop runs and still labels by the minimum id."""
    pairs = [("b", "a"), ("c", "b"), ("x", "y"), ("zz", "y")]
    labels, local = _run(
        spark, pairs, budget=10**9, monkeypatch=monkeypatch,
        schema="src string, dst string",
    )
    assert not local
    assert labels == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"), ("zz", "x")
    ]


def test_local_union_find_min_labels():
    # pure-python core: chain + singleton pair + orientation mix
    label = C._local_components([(5, 4), (4, 3), (9, 8), (3, 7)])
    assert label == {5: 3, 4: 3, 3: 3, 7: 3, 9: 8, 8: 8}
