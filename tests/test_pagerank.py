"""PageRank: CSR mode vs SQL mode vs a numpy reference (networkx's
pagerank needs scipy, which isn't in the container — the 15-line power
iteration below is the oracle)."""

import numpy as np
import pytest

from centrality_gpu_spark.graph import Graph
from centrality_gpu_spark.operators.pagerank import pagerank
from centrality_gpu_spark.operators.superstep import block_edges
from centrality_gpu_spark.sources.edgelist import read_edge_list_local
from centrality_gpu_spark.sources.testdata_graphs import events_graph

from tests.conftest import SAMPLE_DIR, SF_SMALL, read_sample_edges


def np_pagerank(edges, alpha=0.85, tol=1e-6, iters=200, fixed=None):
    """Power iteration on the symmetrized graph; ids may be sparse."""
    ids = sorted({u for e in edges for u in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    sym = {(idx[u], idx[v]) for u, v in edges if u != v}
    sym |= {(b, a) for a, b in sym}
    src = np.array([a for a, _ in sym])
    dst = np.array([b for _, b in sym])
    deg = np.bincount(src, minlength=n).astype(float)
    r = np.full(n, 1.0 / n)
    for it in range(iters if fixed is None else fixed):
        contrib = r[src] / deg[src]
        msg = np.bincount(dst, weights=contrib, minlength=n)
        r_new = (1 - alpha) / n + alpha * msg
        if fixed is None and np.max(np.abs(r_new - r)) < tol:
            r = r_new
            break
        r = r_new
    return {v: r[idx[v]] for v in ids}


@pytest.mark.parametrize("mode", ["sql", "csr"])
def test_pagerank_samples_fixed(spark, sample_name, mode):
    """Fixed-iteration recurrence vs numpy — exact same formula, no
    convergence actions (fast)."""
    g = read_edge_list_local(spark, f"{SAMPLE_DIR}/{sample_name}.txt")
    got = {r.id: r["rank"] for r in pagerank(g, mode=mode, fixed_iterations=20).collect()}
    exp = np_pagerank(read_sample_edges(sample_name), fixed=20)
    assert set(got) == set(exp)
    assert np.allclose(
        [got[k] for k in sorted(got)], [exp[k] for k in sorted(exp)],
        atol=1e-12, rtol=1e-12,
    )


def test_pagerank_convergence(spark):
    """‖Δ‖∞ < 1e-6 convergence mode vs numpy converged to the same bar."""
    g = read_edge_list_local(spark, f"{SAMPLE_DIR}/test1.txt")
    got = {r.id: r["rank"] for r in pagerank(g, mode="sql", tol=1e-6).collect()}
    exp = np_pagerank(read_sample_edges("test1"), tol=1e-6)
    assert np.allclose(
        [got[k] for k in sorted(got)], [exp[k] for k in sorted(exp)],
        atol=1e-5, rtol=1e-5,
    )


def test_pagerank_modes_agree_events(spark):
    g = events_graph(spark, SF_SMALL).persist()
    a = {r.id: r["rank"] for r in pagerank(g, mode="sql", fixed_iterations=5).collect()}
    b = {r.id: r["rank"] for r in pagerank(g, mode="csr", fixed_iterations=5).collect()}
    assert set(a) == set(b)
    assert np.allclose([a[k] for k in sorted(a)], [b[k] for k in sorted(b)], atol=1e-12)
    g.unpersist()


def test_pagerank_csr_with_forced_salting(spark):
    """hub_threshold=2 forces nearly every vertex down the salted path —
    result must be identical to the unsalted SQL mode."""
    g = read_edge_list_local(spark, f"{SAMPLE_DIR}/test4.txt")
    blocked = block_edges(g, hub_threshold=2, partition_by="src")
    assert blocked.hubs.count() > 0
    a = {r.id: r["rank"] for r in
         pagerank(g, mode="csr", fixed_iterations=4, blocked=blocked).collect()}
    b = {r.id: r["rank"] for r in pagerank(g, mode="sql", fixed_iterations=4).collect()}
    assert np.allclose([a[k] for k in sorted(a)], [b[k] for k in sorted(b)], atol=1e-12)
    blocked.unpersist()


def test_pagerank_weighted_modes_agree_events(spark):
    """Weighted CSR path (pre-folded src_inv_wdeg in the block store) must
    match the weighted SQL mode bit-for-bit-ish."""
    g = events_graph(spark, SF_SMALL).persist()
    a = {r.id: r["rank"] for r in
         pagerank(g, mode="sql", fixed_iterations=5, weighted=True).collect()}
    b = {r.id: r["rank"] for r in
         pagerank(g, mode="csr", fixed_iterations=5, weighted=True).collect()}
    assert set(a) == set(b)
    assert np.allclose([a[k] for k in sorted(a)], [b[k] for k in sorted(b)], atol=1e-12)
    # weighted differs from unweighted on this graph (weights = counts)
    c = {r.id: r["rank"] for r in
         pagerank(g, mode="csr", fixed_iterations=5).collect()}
    assert not np.allclose(
        [b[k] for k in sorted(b)], [c[k] for k in sorted(c)], atol=1e-9
    )
    g.unpersist()


def test_pagerank_weighted_csr_src_store(spark):
    """The routed src-store superstep (DataFrame loop, no dense loop)
    must agree too on the weighted recurrence (src_inv_wdeg factors)."""
    g = read_edge_list_local(spark, f"{SAMPLE_DIR}/test3.txt")
    blocked = block_edges(g, partition_by="src")
    a = {r.id: r["rank"] for r in
         pagerank(g, mode="csr", fixed_iterations=4, weighted=True,
                  blocked=blocked).collect()}
    b = {r.id: r["rank"] for r in
         pagerank(g, mode="sql", fixed_iterations=4, weighted=True).collect()}
    assert np.allclose([a[k] for k in sorted(a)], [b[k] for k in sorted(b)], atol=1e-12)
    blocked.unpersist()


def np_ppr(edges, seeds, alpha=0.85, iters=5):
    """Replay the personalized-pagerank fixed recurrence in numpy."""
    ids = sorted({u for e in edges for u in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    sym = {(idx[u], idx[v]) for u, v in edges if u != v}
    sym |= {(b, a) for a, b in sym}
    src = np.array([a for a, _ in sym])
    dst = np.array([b for _, b in sym])
    deg = np.bincount(src, minlength=n).astype(float)
    base = np.zeros(n)
    for s in seeds:
        base[idx[s]] = 1.0 / len(seeds)
    r = base.copy()
    for _ in range(iters):
        contrib = r[src] / deg[src]
        msg = np.bincount(dst, weights=contrib, minlength=n)
        r = (1 - alpha) * base + alpha * msg
    return {v: r[idx[v]] for v in ids}


@pytest.mark.parametrize("mode", ["sql", "csr"])
def test_ppr_samples_fixed(spark, sample_name, mode):
    from centrality_gpu_spark.operators.pagerank import personalized_pagerank

    g = read_edge_list_local(spark, f"{SAMPLE_DIR}/{sample_name}.txt")
    edges = read_sample_edges(sample_name)
    seeds = sorted({u for e in edges for u in e})[:2]
    seeds_df = spark.createDataFrame([(int(s),) for s in seeds], "id long")
    got = {
        r.id: r["rank"]
        for r in personalized_pagerank(
            g, seeds_df, fixed_iterations=5, mode=mode
        ).collect()
    }
    exp = np_ppr(edges, seeds, iters=5)
    assert set(got) == set(exp)
    assert np.allclose(
        [got[k] for k in sorted(got)], [exp[k] for k in sorted(exp)],
        atol=1e-12, rtol=1e-12,
    )


def test_ppr_mass_concentrates_near_seeds(spark):
    """Sanity: with a low alpha the seed keeps the largest rank."""
    from centrality_gpu_spark.operators.pagerank import personalized_pagerank

    g = read_edge_list_local(spark, f"{SAMPLE_DIR}/test4.txt")
    seeds_df = spark.createDataFrame([(0,)], "id long")
    rows = personalized_pagerank(g, seeds_df, alpha=0.5, fixed_iterations=10).collect()
    top = max(rows, key=lambda r: r["rank"])
    assert top.id == 0


def test_ppr_empty_seeds_raises(spark):
    from centrality_gpu_spark.operators.pagerank import personalized_pagerank

    g = read_edge_list_local(spark, f"{SAMPLE_DIR}/test1.txt")
    with pytest.raises(ValueError):
        personalized_pagerank(g, spark.createDataFrame([], "id long"))


def test_pagerank_dense_loop_convergence_matches_sql(spark):
    """The driver-resident dense loop (csr mode + dst store) must reach
    the same fixpoint as the sql mode under tol-based convergence."""
    import tempfile

    from centrality_gpu_spark.sources.testdata_graphs import events_graph

    g = events_graph(spark, SF_SMALL)
    blocked = block_edges(
        g, scratch_dir=tempfile.mkdtemp(prefix="t_prdense_"),
        partition_by="dst",
    )
    a = {r.id: r["rank"] for r in pagerank(g, mode="sql", tol=1e-9).collect()}
    b = {r.id: r["rank"]
         for r in pagerank(g, mode="csr", tol=1e-9, blocked=blocked).collect()}
    assert set(a) == set(b)
    for k in a:
        assert b[k] == pytest.approx(a[k], abs=1e-7)
    blocked.unpersist()


def test_pagerank_residuals_trace_decreasing_and_hits_tol(spark):
    """The convergence trace behind the north metric: residuals are
    positive, strictly decreasing on the events graph (alpha<1 power
    iteration), and the first iteration whose trailing residual falls
    under tol agrees with where pagerank(tol=...) actually stops."""
    from centrality_gpu_spark.operators.pagerank import pagerank_residuals
    from centrality_gpu_spark.sources.testdata_graphs import events_graph

    g = events_graph(spark, SF_SMALL)
    trace = {
        r.iteration: r.linf_delta
        for r in pagerank_residuals(g, iterations=12).collect()
    }
    assert sorted(trace) == list(range(1, 13))
    assert all(d > 0 for d in trace.values())
    deltas = [trace[i] for i in range(1, 13)]
    assert all(a > b for a, b in zip(deltas, deltas[1:]))
    # the residual contracts geometrically at rate <= alpha each step
    # (so iterations-to-1e-6 is O(log 1/tol) and readable off the trace)
    # (1e-6 slack: trace values are rounded to 8 dp before the ratio)
    assert all(b / a <= 0.85 + 1e-6 for a, b in zip(deltas, deltas[1:]))
    # iterations-to-tol from the trace == observed stopping point
    # (tol chosen inside the traced range; the 1e-6 rule is identical)
    tol = trace[8] + (trace[7] - trace[8]) / 2
    want_iters = next(i for i in range(1, 13) if trace[i] < tol)
    ranks_conv = pagerank(g, tol=tol, mode="sql")
    ranks_fixed = pagerank(g, fixed_iterations=want_iters, mode="sql")
    a = {r.id: r["rank"] for r in ranks_conv.collect()}
    b = {r.id: r["rank"] for r in ranks_fixed.collect()}
    for k in a:
        assert b[k] == pytest.approx(a[k], abs=1e-9)
