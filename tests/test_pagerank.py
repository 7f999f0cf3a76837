"""operators.pagerank: fixed-point PageRank with convergence-based
early termination (round-6 directive: oracle unchanged at 3 sweeps,
early-stop asserted on a pre-converged graph)."""

from __future__ import annotations

import pytest

from etl_challenge_localiza_spark.operators.pagerank import (
    RANK_SCALE,
    pagerank_scaled,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_early_stop_on_pre_converged_graph(spark):
    """A symmetric d-regular graph is a PageRank fixpoint at the
    uniform init (each node receives d contributions of r/d), so the
    first sweep's L1 delta is 0 and the loop must stop after ONE sweep
    instead of running all max_sweeps."""
    # 4-cycle: every node has degree 2, symmetrized edge list
    cyc = [(0, 1), (1, 2), (2, 3), (3, 0)]
    both = cyc + [(b, a) for a, b in cyc]
    ranks, sweeps = pagerank_scaled(_edges(spark, both), max_sweeps=5)
    assert sweeps == 1
    got = {r["id"]: r["r"] for r in ranks.collect()}
    assert got == {i: RANK_SCALE for i in range(4)}  # exact fixpoint


def test_non_regular_graph_runs_all_sweeps_and_ranks_hub_highest(spark):
    # star: hub 0 ↔ leaves 1..4 — not a fixpoint at uniform init
    star = [(0, i) for i in range(1, 5)]
    both = star + [(b, a) for a, b in star]
    ranks, sweeps = pagerank_scaled(_edges(spark, both), max_sweeps=3)
    assert sweeps == 3
    got = {r["id"]: r["r"] for r in ranks.collect()}
    assert got[0] > max(got[i] for i in range(1, 5))
    # leaves are symmetric: identical ranks
    assert len({got[i] for i in range(1, 5)}) == 1


def test_require_convergence_raises_when_still_moving(spark):
    star = [(0, i) for i in range(1, 5)]
    both = star + [(b, a) for a, b in star]
    with pytest.raises(RuntimeError, match="did not converge"):
        pagerank_scaled(_edges(spark, both), max_sweeps=2, require_convergence=True)


def test_convergence_within_max_sweeps_satisfies_require(spark):
    cyc = [(0, 1), (1, 0)]
    ranks, sweeps = pagerank_scaled(
        _edges(spark, cyc), max_sweeps=10, require_convergence=True
    )
    assert sweeps == 1
    assert {r["r"] for r in ranks.collect()} == {RANK_SCALE}


def test_fast_path_matches_distributed_loop(spark, monkeypatch):
    """The r14 driver-local exact-integer fast path must reproduce the
    distributed loop bit-for-bit — ranks AND sweeps_run — on an
    irregular multi-component graph."""
    import etl_challenge_localiza_spark.functions.localrel as L
    import etl_challenge_localiza_spark.operators.pagerank as P

    pairs = []
    for i in range(30):
        for j in range(i + 1, 30):
            if i // 10 != j // 10:
                continue
            if (i * 2654435761 + j * 40503 + 5) % 97 < 22:
                pairs.append((i, j))
                pairs.append((j, i))
    pairs.append((40, 41))  # dangling-ish extra component

    def run(budget):
        monkeypatch.setattr(L, "LOCAL_BUDGET_BYTES", budget)
        ranks, sweeps = P.pagerank_scaled(_edges(spark, pairs), max_sweeps=3)
        return sorted((r["id"], r["r"]) for r in ranks.collect()), sweeps

    fast, s_fast = run(10**9)
    loop, s_loop = run(0)
    assert fast == loop
    assert s_fast == s_loop
