"""SpMV primitive: the block store's src and dst supersteps vs SQL mode."""

import tempfile

import pytest
from pyspark.sql import functions as F

from centrality_gpu_spark.operators.superstep import block_edges, spmv, spmv_sql
from centrality_gpu_spark.sources.edgelist import read_edge_list_local

from tests.conftest import SAMPLE_DIR


@pytest.fixture(scope="module")
def g(spark):
    gr = read_edge_list_local(spark, f"{SAMPLE_DIR}/test4.txt").persist()
    gr.edges.count()
    yield gr
    gr.unpersist()


@pytest.fixture(scope="module")
def values(spark, g):
    return g.vertices().select("id", (F.col("id") * 0.5 + 1.0).alias("val")).persist()


def as_map(df):
    return {r.id: r.msg for r in df.collect()}


# the four weighting-flag combinations the operators use
FLAG_COMBOS = [
    dict(weighted=False),
    dict(weighted=True),
    dict(weighted=False, divide_by_src_degree=True),
    dict(weighted=True, divide_by_src_wdegree=True),
]


@pytest.mark.parametrize("kw", FLAG_COMBOS)
def test_spmv_modes_agree(spark, g, values, kw):
    """Routed superstep on an unsalted src store vs the SQL reference."""
    expected = as_map(spmv_sql(g, values, **kw))
    cached = block_edges(
        g, scratch_dir=tempfile.mkdtemp(prefix="t_blk_"), partition_by="src"
    )
    assert cached.n_hubs == 0
    got = as_map(spmv(cached, values, **kw))
    assert set(expected) == set(got)
    for k in expected:
        assert got[k] == pytest.approx(expected[k], abs=1e-12)
    cached.unpersist()


@pytest.mark.parametrize("kw", FLAG_COMBOS)
def test_spmv_cached_with_salting(spark, g, values, kw):
    """Forced salting (hub_threshold=2) through the routed src store."""
    expected = as_map(spmv_sql(g, values, **kw))
    blocked = block_edges(
        g, hub_threshold=2, scratch_dir=tempfile.mkdtemp(prefix="t_blk_"),
        partition_by="src",
    )
    assert blocked.hubs.count() > 0
    got = as_map(spmv(blocked, values, **kw))
    assert set(expected) == set(got)
    for k in expected:
        assert got[k] == pytest.approx(expected[k], abs=1e-12)
    blocked.unpersist()


def test_spmv_repeated_calls_consistent(spark, g, values):
    """Second superstep over the same blocks (worker cache warm) must
    return identical results."""
    blocked = block_edges(g, scratch_dir=tempfile.mkdtemp(prefix="t_blk_"))
    a = as_map(spmv(blocked, values, weighted=False))
    b = as_map(spmv(blocked, values, weighted=False))
    assert a == b
    blocked.unpersist()


@pytest.mark.parametrize("kw", FLAG_COMBOS)
def test_spmv_dst_store_agrees(spark, g, values, kw):
    """dst-partitioned store (broadcast-value, combine-free superstep)
    must equal the SQL and src-store paths for every flag combination.
    dst output additionally covers EVERY vertex with in-edges (dense
    clients rely on it to skip their vertex join)."""
    expected = as_map(spmv_sql(g, values, **kw))
    dst_st = block_edges(
        g, scratch_dir=tempfile.mkdtemp(prefix="t_dstblk_"), partition_by="dst"
    )
    got = as_map(spmv(dst_st, values, **kw))
    all_dsts = {r.dst for r in g.edges.select("dst").distinct().collect()}
    assert set(got) == all_dsts
    for k in expected:
        assert got[k] == pytest.approx(expected[k], abs=1e-12)
    for k in set(got) - set(expected):
        assert got[k] == 0.0
    dst_st.unpersist()


def test_store_partition_mismatch_rebuilds(spark, g, values):
    """reuse_existing must not reuse a store built with the other
    bucketing key."""
    d = tempfile.mkdtemp(prefix="t_pbmix_")
    src_st = block_edges(g, scratch_dir=d, partition_by="src")
    expected = as_map(spmv_sql(g, values, weighted=False))
    dst_st = block_edges(g, scratch_dir=d, reuse_existing=True, partition_by="dst")
    got = as_map(spmv(dst_st, values, weighted=False))
    for k in expected:
        assert got[k] == pytest.approx(expected[k], abs=1e-12)
    src_st.unpersist(); dst_st.unpersist()


@pytest.mark.parametrize("kw", FLAG_COMBOS)
def test_spmv_dense_driver_vector_agrees(spark, g, values, kw):
    """The driver-resident dense superstep (spmv_dense) must equal the
    SQL path for every flag combination."""
    from centrality_gpu_spark.operators.superstep import (
        _dense_map,
        dense_vector_from_df,
        dense_vector_to_df,
        spmv_dense,
    )

    expected = as_map(spmv_sql(g, values, **kw))
    st = block_edges(
        g, scratch_dir=tempfile.mkdtemp(prefix="t_dense_"), partition_by="dst"
    )
    vec = dense_vector_from_df(st, values)
    out = spmv_dense(st, vec, **kw)
    ids, _ = _dense_map(st)
    got = dict(zip(ids.tolist(), out.tolist()))
    for k in expected:
        assert got[k] == pytest.approx(expected[k], abs=1e-12)
    for k in set(got) - set(expected):
        assert got[k] == 0.0
    # round-trip back to a DataFrame preserves values and covers all dsts
    rt = {r.id: r.v for r in dense_vector_to_df(st, out, col="v").collect()}
    assert rt == got
    st.unpersist()


def test_spmv_dense_requires_dst_store(spark, g, values):
    from centrality_gpu_spark.operators.superstep import (
        dense_vector_from_df,
        spmv_dense,
    )

    src_st = block_edges(
        g, scratch_dir=tempfile.mkdtemp(prefix="t_srcst_"), partition_by="src"
    )
    with pytest.raises(ValueError, match="dst-partitioned"):
        spmv_dense(src_st, dense_vector_from_df(src_st, values))
    src_st.unpersist()


def test_block_edges_default_bucketing(spark, g, monkeypatch):
    """partition_by=None picks the dst store while the vertex count fits
    the broadcast guard, else the routed src store."""
    import centrality_gpu_spark.operators.superstep as ss

    assert block_edges(g).partition_by == "dst"
    monkeypatch.setattr(ss, "BROADCAST_VALUES_MAX_VERTICES", g.num_vertices() - 1)
    st = block_edges(g)
    assert st.partition_by == "src"
    st.unpersist()


@pytest.mark.parametrize("pb", ["src", "dst"])
def test_rebuilt_store_serves_new_blocks(spark, pb):
    """Rebuilding a store at the same scratch_dir in one session (sample
    graphs 4 → 1 → 4) must never serve the previous build's blocks from
    the workers' CSR caches."""
    from centrality_gpu_spark.operators.superstep import (
        dense_vector_from_df,
        spmv_dense,
    )

    d = tempfile.mkdtemp(prefix=f"t_rebuild_{pb}_")
    for name in ("test4", "test1", "test4"):
        gr = read_edge_list_local(spark, f"{SAMPLE_DIR}/{name}.txt")
        vals = gr.vertices().select("id", (F.col("id") * 0.5 + 1.0).alias("val"))
        blocked = block_edges(gr, scratch_dir=d, partition_by=pb)
        for kw in (dict(weighted=True), dict(weighted=False, divide_by_src_degree=True)):
            expected = as_map(spmv_sql(gr, vals, **kw))
            got = as_map(spmv(blocked, vals, **kw))
            assert set(got) == set(expected), name
            for k in expected:
                assert got[k] == pytest.approx(expected[k], abs=1e-12), (name, k)
            if pb == "dst":
                vec = dense_vector_from_df(blocked, vals)
                ids = sorted(expected)
                out = spmv_dense(blocked, vec, **kw)
                assert out.tolist() == pytest.approx(
                    [expected[k] for k in ids], abs=1e-12
                ), name
        blocked.unpersist()


def test_reuse_existing_keeps_matching_build(spark, g, values):
    """reuse_existing keeps the build (and its id) only when bucketing,
    block count and hub threshold all match; anything else rebuilds."""
    d = tempfile.mkdtemp(prefix="t_reuse_")
    a = block_edges(g, scratch_dir=d, partition_by="src")
    b = block_edges(g, scratch_dir=d, partition_by="src", reuse_existing=True)
    assert b.build_id == a.build_id
    c = block_edges(g, scratch_dir=d, partition_by="src", reuse_existing=True,
                    n_blocks=3)
    assert c.build_id != a.build_id
    expected = as_map(spmv_sql(g, values, weighted=True))
    got = as_map(spmv(c, values, weighted=True))
    for k in expected:
        assert got[k] == pytest.approx(expected[k], abs=1e-12)
    for st in (a, b, c):
        st.unpersist()


def test_stale_handle_is_refused(spark, g):
    """A handle to a build that was since replaced at the same path is
    refused on a cold cache instead of reading the new build's files."""
    import centrality_gpu_spark.operators.superstep as ss

    d = tempfile.mkdtemp(prefix="t_stale_")
    old = block_edges(g, scratch_dir=d, partition_by="dst")
    new = block_edges(g, scratch_dir=d, partition_by="dst")
    assert new.build_id != old.build_id
    block = ss._read_manifest(new.path)["blocks"][0]
    assert ss._load_csr_block(new.path, new.build_id, block) is not None
    with pytest.raises(RuntimeError, match="rebuilt"):
        ss._load_csr_block(old.path, old.build_id, block)
