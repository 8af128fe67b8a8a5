"""Exact Brandes betweenness centrality — the reference's flagship.

Semantics (FIXTURES.md §4): ordered-pair counting — the reference
accumulates dependencies from every source over both directions
("To Match with baders results", ``modified_apsp.cpp:209``), equal to
2 × networkx's unnormalized BC on undirected graphs. Optional ``reach``
weighting (``kernels_free.cu:391,409,425``) makes per-component results
compose, exactly as in the reference's BCC decomposition; the default
reach = 0 everywhere degenerates to textbook Brandes, whose whole-graph
result equals the reference's decomposed result (that equality is the
*point* of its decomposition — SURVEY.md §7.7).

Two physical strategies, mirroring the reference's own regime split:

- ``betweenness_broadcast`` — the graph's CSR (numpy int64 arrays) is
  broadcast to every task and sources are parallelized across tasks,
  each running a per-level vectorized numpy Brandes and emitting a
  partial BC vector; one final groupBy(vertex).sum. This is precisely
  the reference's architecture (CSR copied to the GPU once, one source
  per SM, atomicAdd into a shared bc vector,
  ``kernels_free.cu:43-79,423-426``) and is the right plan whenever
  V+E fit in executor memory — even at 100 TB of *transcripts*, the
  derived conv/tool graph is typically orders smaller; per-partition
  work is pure numpy, zero per-row Python.

- ``betweenness_bsp`` — fully distributed frontier-join supersteps
  (forward: operators/bfs.py; backward: per-level dependency joins,
  A3/G15 ``kernels_free.cu:377-426``) for graphs too large to
  broadcast. Sources processed in waves of ``batch_size``
  (``arrangelevels.cpp:8`` batching).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from centrality_gpu_spark.graph import Graph
from centrality_gpu_spark.operators.bfs import multi_source_bfs
from centrality_gpu_spark.plans.checkpoint import CheckpointManager, with_iterative_conf


# --------------------------------------------------------------- numpy core

from centrality_gpu_spark.operators.csrkernels import (  # noqa: E402  (re-exported)
    DEFAULT_BROADCAST_MAX_EDGES,
    _flat_neighbors,
    bfs_forward,
    graph_to_csr,
)


def brandes_kernel(
    indptr: np.ndarray,
    indices: np.ndarray,
    sources: np.ndarray,
    n: int,
    reach: np.ndarray | None = None,
    comp: np.ndarray | None = None,
) -> np.ndarray:
    """Per-level vectorized Brandes for a batch of sources → partial bc.

    Forward = G13 via the shared direction-optimizing kernel
    (csrkernels.bfs_forward: min-dist claim A2 + σ accumulation A1,
    Beamer top-down/bottom-up switch G6); backward = G15 successor-form
    dependency accumulation, all per-level numpy (np.add.at ≅ the
    kernels' atomicAdd).
    """
    from centrality_gpu_spark.operators.csrkernels import csr_components

    if reach is None:
        reach = np.zeros(n)
    bc = np.zeros(n)
    # one O(V+E) sweep amortized over the source batch: restricts each
    # source's bottom-up candidates to its component (multi-component
    # graphs otherwise pay O(E_total) per fat level per source).
    # Callers that fan the batch across tasks precompute this once on
    # the driver and pass it in via ``comp``.
    if comp is None:
        comp = csr_components(indptr, indices, n)
    for s in sources:
        dist, sigma, levels = bfs_forward(
            indptr, indices, int(s), n, comp=comp
        )
        delta = np.zeros(n)
        for lvl in range(len(levels) - 1, 0, -1):
            vrep, nbr = _flat_neighbors(indptr, indices, levels[lvl - 1])
            m = dist[nbr] == lvl
            v, w = vrep[m], nbr[m]
            np.add.at(delta, v, sigma[v] / sigma[w] * (reach[w] + 1.0 + delta[w]))
        delta[s] = 0.0
        bc += delta * (reach[s] + 1.0)
    return bc


def brandes_weighted_kernel(
    indptr: np.ndarray,
    indices: np.ndarray,
    weights: np.ndarray,
    sources: np.ndarray,
    n: int,
) -> np.ndarray:
    """Weighted Brandes for a batch of sources → partial bc (ordered-
    pair counting, same ×2 convention as ``brandes_kernel``).

    Forward = Dijkstra with σ (csrkernels.dijkstra_forward); backward =
    dependency accumulation over *distance levels*: vertices grouped by
    exact distance value, processed descending — within a level no
    vertex can precede another (weights > 0), so each level is one
    vectorized predecessor-test + np.add.at, the A3/G15 idiom carried
    over unchanged to weighted paths.
    """
    from centrality_gpu_spark.operators.csrkernels import (
        _flat_neighbors_eidx,
        dijkstra_forward,
    )

    bc = np.zeros(n)
    for s in sources:
        dist, sigma = dijkstra_forward(indptr, indices, weights, int(s), n)
        delta = np.zeros(n)
        finite = np.isfinite(dist)
        for dval in np.unique(dist[finite])[::-1]:
            if dval == 0.0:
                break
            lvl = np.nonzero(dist == dval)[0]
            vrep, nbr, eidx = _flat_neighbors_eidx(indptr, indices, lvl)
            m = dist[nbr] + weights[eidx] == dval
            v, w = nbr[m], vrep[m]
            np.add.at(delta, v, sigma[v] / sigma[w] * (1.0 + delta[w]))
        delta[int(s)] = 0.0
        bc += delta
    return bc


def brandes_edge_kernel(
    indptr: np.ndarray,
    indices: np.ndarray,
    sources: np.ndarray,
    n: int,
    comp: np.ndarray | None = None,
) -> np.ndarray:
    """Edge betweenness for a batch of sources → partial per-CSR-slot
    accumulator (ordered-pair counting like the vertex kernel: the sum
    of a slot and its reverse slot = 2 × networkx unnormalized edge BC).

    Same forward pass as ``brandes_kernel``; the backward sweep credits
    each tree/DAG edge (v, w) with σ_v/σ_w · (1 + δ_w) **before**
    folding it into δ_v — the per-edge view of A3/G15
    (``kernels_free.cu:377-426`` accumulates the identical product, it
    just adds it to the vertex cell instead of the edge slot).
    ``comp`` (component labels) as in ``brandes_kernel``: computed here
    when None, precomputed on the driver by callers that fan out.
    """
    from centrality_gpu_spark.operators.csrkernels import (
        _flat_neighbors_eidx,
        csr_components,
    )

    ebc = np.zeros(len(indices))
    if comp is None:
        comp = csr_components(indptr, indices, n)
    for s in sources:
        dist, sigma, levels = bfs_forward(
            indptr, indices, int(s), n, comp=comp
        )
        delta = np.zeros(n)
        for lvl in range(len(levels) - 1, 0, -1):
            vrep, nbr, eidx = _flat_neighbors_eidx(
                indptr, indices, levels[lvl - 1]
            )
            m = dist[nbr] == lvl
            v, w, e = vrep[m], nbr[m], eidx[m]
            contrib = sigma[v] / sigma[w] * (1.0 + delta[w])
            np.add.at(ebc, e, contrib)
            np.add.at(delta, v, contrib)
    return ebc


def edge_betweenness(
    graph: Graph,
    sources: list[int] | None = None,
    num_tasks: int | None = None,
) -> DataFrame:
    """(src, dst, ebc) per undirected edge (src < dst) — exact edge
    betweenness, ordered-pair counting (= 2 × networkx
    ``edge_betweenness_centrality(normalized=False)``).

    Broadcast regime (size-guarded by ``graph_to_csr``): each task runs
    ``brandes_edge_kernel`` over its source batch and emits nonzero
    (u, v, partial) triples keyed by the *undirected* edge; one final
    groupBy-sum. The per-slot accumulator is the edge-indexed analog of
    the reference's shared bc vector (``kernels_free.cu:423-426``)."""
    spark = graph.spark
    ids, indptr, indices = graph_to_csr(graph)
    n = len(ids)
    src_of_slot = np.repeat(np.arange(n, dtype=np.int64), np.diff(indptr))
    # component labels computed ONCE here rather than per task batch
    from centrality_gpu_spark.operators.csrkernels import csr_components

    comp = csr_components(indptr, indices, n)
    bcast = spark.sparkContext.broadcast(
        (ids, indptr, indices, src_of_slot, comp)
    )
    if sources is None:
        dense_sources = list(range(n))
    else:
        srcs = np.asarray(sources)
        pos = np.searchsorted(ids, srcs)
        bad = (pos >= n) | (ids[np.minimum(pos, n - 1)] != srcs)
        if bad.any():
            raise ValueError(f"unknown source vertex ids: {srcs[bad][:5].tolist()}")
        dense_sources = pos.tolist()
    if num_tasks is None:
        num_tasks = min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            max(1, len(dense_sources)),
        )
    src_df = spark.createDataFrame(
        [(int(x),) for x in dense_sources], "sid long"
    ).repartition(num_tasks)

    def run_batch(batches):
        ids_, indptr_, indices_, srcslot_, comp_ = bcast.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ebc = brandes_edge_kernel(
                indptr_, indices_, pdf["sid"].to_numpy(), len(ids_), comp=comp_
            )
            nz = np.nonzero(ebc)[0]
            u = ids_[srcslot_[nz]]
            v = ids_[indices_[nz]]
            yield pd.DataFrame(
                {
                    "src": np.minimum(u, v),
                    "dst": np.maximum(u, v),
                    "ebc_part": ebc[nz],
                }
            )

    partials = src_df.mapInPandas(run_batch, "src long, dst long, ebc_part double")
    ebc = partials.groupBy("src", "dst").agg(F.sum("ebc_part").alias("ebc"))
    undirected = graph.edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).distinct()
    return (
        undirected.join(ebc, ["src", "dst"], "left")
        .select("src", "dst", F.coalesce("ebc", F.lit(0.0)).alias("ebc"))
    )


def edge_betweenness_oracle_sql(edges_cte: str, max_depth: int = 8) -> str:
    """DuckDB oracle for ``edge_betweenness`` — the per-edge pair
    dependency: ebc(v,w) = Σ_{s,t} σ(s,v)·σ(w,t)/σ(s,t) over pairs
    whose shortest paths use the edge (d(s,v) + 1 + d(w,t) = d(s,t)),
    summed over both orientations via LEAST/GREATEST. Output
    (src, dst, ebc) rounded to 6, ordered."""
    return f"""WITH {apsp_oracle_cte(edges_cte, max_depth)},
eorient AS (
  SELECT LEAST(e.src, e.dst) AS u, GREATEST(e.src, e.dst) AS v,
         SUM(sv.sigma * wt.sigma / st.sigma) AS ebc
  FROM edges e
  JOIN ds sv ON sv.v = e.src
  JOIN ds dw ON dw.s = sv.s AND dw.v = e.dst AND dw.d = sv.d + 1
  JOIN ds wt ON wt.s = e.dst
  JOIN ds st ON st.s = sv.s AND st.v = wt.v AND st.d = sv.d + 1 + wt.d
  WHERE st.s <> st.v
  GROUP BY 1, 2
),
und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM edges)
SELECT und.u AS src, und.v AS dst, ROUND(COALESCE(eo.ebc, 0.0), 6) AS ebc
FROM und LEFT JOIN eorient eo ON eo.u = und.u AND eo.v = und.v
ORDER BY src, dst"""


# ------------------------------------------------------------ broadcast mode


def betweenness_broadcast(
    graph: Graph,
    sources: list[int] | None = None,
    num_tasks: int | None = None,
    reach: dict[int, float] | None = None,
) -> DataFrame:
    """(id, bc) — CSR broadcast to tasks, sources parallelized."""
    spark = graph.spark
    ids, indptr, indices = graph_to_csr(graph)
    n = len(ids)
    reach_vec = np.zeros(n)
    if reach:
        pos = {v: i for i, v in enumerate(ids.tolist())}
        for v, r in reach.items():
            reach_vec[pos[v]] = r
    # component labels computed ONCE here rather than per task inside
    # brandes_kernel (32 tasks would each repeat the O(V+E) sweep)
    from centrality_gpu_spark.operators.csrkernels import csr_components

    comp = csr_components(indptr, indices, n)
    bcast = spark.sparkContext.broadcast(
        (ids, indptr, indices, reach_vec, comp)
    )

    if sources is None:
        dense_sources = list(range(n))
    else:
        srcs = np.asarray(sources)
        pos = np.searchsorted(ids, srcs)
        bad = (pos >= n) | (ids[np.minimum(pos, n - 1)] != srcs)
        if bad.any():
            raise ValueError(
                f"unknown source vertex ids: {srcs[bad][:5].tolist()}"
                f"{'...' if int(bad.sum()) > 5 else ''}"
            )
        dense_sources = pos.tolist()
    if num_tasks is None:
        num_tasks = min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            max(1, len(dense_sources)),
        )
    src_df = spark.createDataFrame(
        [(int(s),) for s in dense_sources], "sid long"
    ).repartition(num_tasks)

    def run_batch(batches):
        ids_, indptr_, indices_, reach_, comp_ = bcast.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            srcs = pdf["sid"].to_numpy()
            bc = brandes_kernel(
                indptr_, indices_, srcs, len(ids_), reach_, comp=comp_
            )
            nz = np.nonzero(bc)[0]
            yield pd.DataFrame({"id": ids_[nz], "bc_part": bc[nz]})

    partials = src_df.mapInPandas(run_batch, "id long, bc_part double")
    bc = partials.groupBy("id").agg(F.sum("bc_part").alias("bc"))
    return (
        graph.vertices()
        .join(bc, "id", "left")
        .select("id", F.coalesce("bc", F.lit(0.0)).alias("bc"))
    )


def betweenness_weighted(
    graph: Graph,
    sources: list[int] | None = None,
    num_tasks: int | None = None,
) -> DataFrame:
    """(id, bc) — exact weighted betweenness (ordered-pair counting, =
    2 × networkx ``weight='weight'`` unnormalized), broadcast regime:
    weighted CSR broadcast once, sources parallelized across tasks,
    Dijkstra–Brandes per source, one final groupBy-sum. Size-guarded by
    ``graph_to_csr_weighted`` like the unweighted front door."""
    from centrality_gpu_spark.operators.csrkernels import graph_to_csr_weighted

    spark = graph.spark
    ids, indptr, indices, weights = graph_to_csr_weighted(graph)
    n = len(ids)
    bcast = spark.sparkContext.broadcast((ids, indptr, indices, weights))
    if sources is None:
        dense_sources = list(range(n))
    else:
        srcs = np.asarray(sources)
        pos = np.searchsorted(ids, srcs)
        bad = (pos >= n) | (ids[np.minimum(pos, n - 1)] != srcs)
        if bad.any():
            raise ValueError(f"unknown source vertex ids: {srcs[bad][:5].tolist()}")
        dense_sources = pos.tolist()
    if num_tasks is None:
        num_tasks = min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            max(1, len(dense_sources)),
        )
    src_df = spark.createDataFrame(
        [(int(x),) for x in dense_sources], "sid long"
    ).repartition(num_tasks)

    def run_batch(batches):
        ids_, indptr_, indices_, weights_ = bcast.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bc = brandes_weighted_kernel(
                indptr_, indices_, weights_, pdf["sid"].to_numpy(), len(ids_)
            )
            nz = np.nonzero(bc)[0]
            yield pd.DataFrame({"id": ids_[nz], "bc_part": bc[nz]})

    partials = src_df.mapInPandas(run_batch, "id long, bc_part double")
    bc = partials.groupBy("id").agg(F.sum("bc_part").alias("bc"))
    return (
        graph.vertices()
        .join(bc, "id", "left")
        .select("id", F.coalesce("bc", F.lit(0.0)).alias("bc"))
    )


def betweenness(
    graph: Graph,
    sources: list[int] | None = None,
    strategy: str = "auto",
    max_broadcast_edges: int = DEFAULT_BROADCAST_MAX_EDGES,
    **kwargs,
) -> DataFrame:
    """(id, bc) — regime-dispatching front door.

    ``auto`` routes to the broadcast-CSR kernel when the directed edge
    count fits ``max_broadcast_edges`` and to the fully distributed BSP
    twin otherwise — the size guard that makes the broadcast default
    safe at 100× scale (no silent driver collect of a huge edge table).
    """
    if strategy == "auto":
        strategy = (
            "broadcast" if graph.num_edges() * 2 <= max_broadcast_edges else "bsp"
        )
    if strategy == "broadcast":
        return betweenness_broadcast(graph, sources=sources, **kwargs)
    if strategy == "bsp":
        return betweenness_bsp(graph, sources=sources, **kwargs)
    raise ValueError(f"unknown strategy {strategy!r}")


# ------------------------------------------------------------------ BSP mode

def _source_waves(graph, sources, batch_size, ckpt):
    """Yield per-wave source DataFrames (col ``source``) of ~batch_size.

    ``sources=None`` (all vertices): hash-bucketed waves computed
    distributedly — the driver never holds the vertex list (G12 level
    batching re-expressed; replaces the O(V) ``collect()``).
    """
    spark = graph.spark
    if sources is not None:
        srcs = list(sources)
        for w0 in range(0, len(srcs), batch_size):
            yield spark.createDataFrame(
                [(int(s),) for s in srcs[w0 : w0 + batch_size]], "source long"
            )
        return
    import math as _math

    n = graph.num_vertices()
    n_waves = max(1, _math.ceil(n / batch_size))
    verts = ckpt.truncate(
        graph.vertices().select(
            "id", F.pmod(F.xxhash64("id"), F.lit(n_waves)).cast("int").alias("wave")
        )
    )
    for w in range(n_waves):
        yield verts.where(F.col("wave") == w).select(F.col("id").alias("source"))


def _brandes_backward(
    graph: Graph,
    levels: list[DataFrame],
    reach_df: DataFrame | None,
    ckpt: CheckpointManager,
) -> DataFrame:
    """Reverse per-level dependency supersteps (A3/G15) for one wave.

    Returns per-(source, vertex) delta union'd over levels; the caller
    weights by reach(source)+1 and sums over sources.
    """
    edges = graph.edges_by_src()
    zero = F.lit(0.0)
    # delta for the deepest level is 0; walk upward accumulating
    deltas: list[DataFrame] = [None] * len(levels)
    deepest = len(levels) - 1
    deltas[deepest] = levels[deepest].select(
        "source", "vertex", "sigma", zero.alias("delta")
    )
    for lvl in range(deepest, 0, -1):
        succ = deltas[lvl]
        if reach_df is not None:
            succ = succ.join(
                reach_df.withColumnRenamed("id", "vertex"), "vertex", "left"
            ).select(
                "source", "vertex", "sigma",
                "delta", F.coalesce("reach", zero).alias("reach"),
            )
        else:
            succ = succ.select("source", "vertex", "sigma", "delta", zero.alias("reach"))
        pred = levels[lvl - 1]
        pairs = (
            pred.select("source", F.col("vertex").alias("p"), F.col("sigma").alias("sigma_p"))
            .join(edges, F.col("p") == edges.src)
            .select("source", "p", "sigma_p", F.col("dst").alias("vertex"))
            .join(
                succ.select(
                    "source", "vertex",
                    F.col("sigma").alias("sigma_s"),
                    F.col("delta").alias("delta_s"),
                    F.col("reach").alias("reach_s"),
                ),
                ["source", "vertex"],
            )
        )
        contrib = pairs.select(
            "source",
            F.col("p").alias("vertex"),
            (
                F.col("sigma_p") / F.col("sigma_s")
                * (F.col("reach_s") + F.lit(1.0) + F.col("delta_s"))
            ).alias("c"),
        )
        agg = contrib.groupBy("source", "vertex").agg(F.sum("c").alias("delta"))
        deltas[lvl - 1] = ckpt.truncate(
            levels[lvl - 1]
            .join(agg, ["source", "vertex"], "left")
            .select("source", "vertex", "sigma", F.coalesce("delta", zero).alias("delta"))
        )
    from centrality_gpu_spark.graph import union_all

    return union_all([d.select("source", "vertex", "delta") for d in deltas])


@with_iterative_conf
def betweenness_bsp(
    graph: Graph,
    batch_size: int = 2048,
    sources: list[int] | None = None,
    reach: dict[int, float] | None = None,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """(id, bc) — fully distributed Brandes in source waves.

    All-vertex runs schedule waves by hash-bucketing the vertex DF
    (``pmod(xxhash64(id), n_waves)``) — no O(V) driver collect, so the
    schedule itself scales with the graph; an explicit ``sources`` list
    (always small: it came from the caller) is sliced driver-side.
    """
    spark = graph.spark
    ckpt = checkpoint or CheckpointManager(spark)
    reach_df = None
    if reach:
        reach_df = spark.createDataFrame(
            [(int(k), float(v)) for k, v in reach.items()], "id long, reach double"
        )

    wave_dfs = _source_waves(graph, sources, batch_size, ckpt)
    partials: list[DataFrame] = []
    for w0, src_df in enumerate(wave_dfs):
        bfs = multi_source_bfs(graph, src_df, checkpoint=ckpt)
        deltas = _brandes_backward(graph, bfs.levels, reach_df, ckpt)
        deltas = deltas.where(F.col("vertex") != F.col("source"))
        if reach_df is not None:
            deltas = deltas.join(
                reach_df.withColumnRenamed("id", "source"), "source", "left"
            ).select(
                "vertex",
                (F.col("delta") * (F.coalesce("reach", F.lit(0.0)) + F.lit(1.0))).alias("wd"),
            )
        else:
            deltas = deltas.select("vertex", F.col("delta").alias("wd"))
        part = deltas.groupBy("vertex").agg(F.sum("wd").alias("bc_part"))
        partials.append(ckpt.truncate(part))
        ckpt.record(op="betweenness_bsp", wave=w0)

    from centrality_gpu_spark.graph import union_all

    bc = (
        union_all(partials)
        .groupBy(F.col("vertex").alias("id"))
        .agg(F.sum("bc_part").alias("bc"))
    )
    return (
        graph.vertices()
        .join(bc, "id", "left")
        .select("id", F.coalesce("bc", F.lit(0.0)).alias("bc"))
    )


# ------------------------------------------------------------- oracle SQL

def apsp_oracle_cte(edges_cte: str, max_depth: int = 8) -> str:
    """DuckDB CTE prefix computing exact unweighted APSP with shortest-
    path counts over an ``edges`` CTE (symmetrized ``src, dst``).

    Strategy (the G20 oracle idiom, ``apsp_graph.cpp:404-440``, done in
    SQL instead of O(n^3) Floyd-Warshall): a recursive CTE enumerates
    deduplicated (source, vertex, depth) walk states to ``max_depth``
    and ``MIN(depth)`` gives distances; sigma path counts then unroll
    level-by-level (DuckDB 1.0 recursive CTEs cannot aggregate inside
    the recursion, so the per-level join-aggregate

        sigma_k(s, w) = SUM over {v : dist(s,v)=k-1, (v,w) in E,
                                    dist(s,w)=k} of sigma_{k-1}(s, v)

    is unrolled ``max_depth`` times — the same fixed-budget trick as
    ``pagerank_oracle_sql``/``lpa_oracle_sql``). Exposes CTEs:
    ``verts(id)``, ``dist(s, v, d)`` and ``ds(s, v, d, sigma)``.
    Correct whenever the graph diameter <= max_depth (the driver's
    sf0.01 events graph has diameter 2).
    """
    sig = []
    for k in range(1, max_depth + 1):
        prev = "sig0" if k == 1 else f"sig{k-1}"
        sig.append(
            f"sig{k} AS MATERIALIZED (SELECT p.s, e.dst AS v, SUM(p.sigma) AS sigma "
            f"FROM {prev} p JOIN edges e ON e.src = p.v "
            f"JOIN dist dd ON dd.s = p.s AND dd.v = e.dst AND dd.d = {k} "
            f"GROUP BY p.s, e.dst)"
        )
    sig_block = ",\n".join(sig)
    ds_union = " UNION ALL ".join(
        f"SELECT s, v, {k} AS d, sigma FROM sig{k}" for k in range(0, max_depth + 1)
    )
    return f"""RECURSIVE {edges_cte},
verts AS (SELECT DISTINCT src AS id FROM edges),
walk(s, v, d) AS (
  SELECT id, id, 0 FROM verts
  UNION
  SELECT w.s, e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.v
  WHERE w.d < {max_depth}
),
dist AS (SELECT s, v, MIN(d) AS d FROM walk GROUP BY s, v),
sig0 AS (SELECT id AS s, id AS v, CAST(1 AS DOUBLE) AS sigma FROM verts),
{sig_block},
ds AS ({ds_union})"""


def brandes_apsp_oracle_sql(edges_cte: str, max_depth: int = 8) -> str:
    """Full DuckDB oracle for ``betweenness`` on any graph of diameter
    <= max_depth: BC(v) = sum over ordered pairs (s,t), v not in {s,t},
    with d(s,v)+d(v,t)=d(s,t), of sigma(s,v)*sigma(v,t)/sigma(s,t) —
    the pair-dependency definition Brandes' delta recursion telescopes
    to, and the ordered-pair counting the reference uses
    (``modified_apsp.cpp:209``; = 2x networkx unnormalized).
    Output: (id, bc) rounded to 6 decimals, ordered by id.
    """
    return f"""WITH {apsp_oracle_cte(edges_cte, max_depth)},
bcsum AS (
  SELECT sv.v AS id, SUM(sv.sigma * vt.sigma / st.sigma) AS bc
  FROM ds st
  JOIN ds sv ON sv.s = st.s AND sv.v <> st.s AND sv.v <> st.v
  JOIN ds vt ON vt.s = sv.v AND vt.v = st.v AND sv.d + vt.d = st.d
  WHERE st.s <> st.v
  GROUP BY sv.v
)
SELECT v.id, ROUND(COALESCE(b.bc, 0.0), 6) AS bc
FROM verts v LEFT JOIN bcsum b ON v.id = b.id ORDER BY v.id"""


def weighted_apsp_oracle_cte(edges_cte: str, hops: int = 8) -> str:
    """DuckDB CTE prefix for exact *weighted* APSP with path counts,
    valid whenever every shortest path has <= ``hops`` edges.

    Distances: ``hops`` unrolled Bellman–Ford rounds (min over previous
    dists + one relaxation — no recursion, so aggregation is legal).
    Sigma: shortest paths partition by exact edge count (every prefix of
    a shortest path is shortest), so sigk(s,w) = Σ over predecessors v
    with dist(v) + weight = dist(w) of sig{k-1}(s,v) counts the k-edge
    shortest paths and sigma = Σ_k sigk. Exactness requires weights to
    be exact binary fractions (callers transform weights accordingly) —
    then float '+' and '=' agree bit-for-bit with the engine's Dijkstra.
    Exposes ``verts(id)``, ``dist(s, v, d)``, ``ds(s, v, d, sigma)``.
    """
    bf = []
    for k in range(1, hops + 1):
        bf.append(
            f"d{k} AS MATERIALIZED (SELECT s, v, MIN(d) AS d FROM ("
            f"SELECT s, v, d FROM d{k-1} "
            f"UNION ALL "
            f"SELECT p.s, e.dst AS v, p.d + e.weight AS d "
            f"FROM d{k-1} p JOIN edges e ON e.src = p.v"
            f") GROUP BY s, v)"
        )
    bf_block = ",\n".join(bf)
    sig = []
    for k in range(1, hops + 1):
        sig.append(
            f"sig{k} AS MATERIALIZED (SELECT p.s, e.dst AS v, SUM(p.sigma) AS sigma "
            f"FROM sig{k-1} p JOIN edges e ON e.src = p.v "
            f"JOIN dist du ON du.s = p.s AND du.v = p.v "
            f"JOIN dist dw ON dw.s = p.s AND dw.v = e.dst "
            f"AND dw.d = du.d + e.weight "
            f"GROUP BY p.s, e.dst)"
        )
    sig_block = ",\n".join(sig)
    ds_union = " UNION ALL ".join(
        f"SELECT s, v, sigma FROM sig{k}" for k in range(0, hops + 1)
    )
    return f"""{edges_cte.replace("edges AS (", "edges AS MATERIALIZED (", 1)},
verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
d0 AS (SELECT id AS s, id AS v, CAST(0 AS DOUBLE) AS d FROM verts),
{bf_block},
dist AS MATERIALIZED (SELECT s, v, d FROM d{hops}),
sig0 AS (SELECT id AS s, id AS v, CAST(1 AS DOUBLE) AS sigma FROM verts),
{sig_block},
sigall AS MATERIALIZED (SELECT s, v, SUM(sigma) AS sigma FROM ({ds_union}) GROUP BY s, v),
ds AS MATERIALIZED (SELECT di.s, di.v, di.d, sa.sigma FROM dist di
       JOIN sigall sa ON sa.s = di.s AND sa.v = di.v)"""


def brandes_weighted_oracle_sql(edges_cte: str, hops: int = 8) -> str:
    """DuckDB oracle for ``betweenness_weighted`` — the same pair-
    dependency sum as ``brandes_apsp_oracle_sql`` over weighted
    distances. Output (id, bc) rounded to 6, ordered by id."""
    return f"""WITH {weighted_apsp_oracle_cte(edges_cte, hops)},
bcsum AS (
  SELECT sv.v AS id, SUM(sv.sigma * vt.sigma / st.sigma) AS bc
  FROM ds st
  JOIN ds sv ON sv.s = st.s AND sv.v <> st.s AND sv.v <> st.v
  JOIN ds vt ON vt.s = sv.v AND vt.v = st.v AND sv.d + vt.d = st.d
  WHERE st.s <> st.v
  GROUP BY sv.v
)
SELECT v.id, ROUND(COALESCE(b.bc, 0.0), 6) AS bc
FROM verts v LEFT JOIN bcsum b ON v.id = b.id ORDER BY v.id"""


def betweenness_sampled(
    graph: Graph,
    n_samples: int,
    seed: str = "bcs",
) -> DataFrame:
    """(id, bc) — Brandes-estimator betweenness from a deterministic
    source sample: bĉ(v) = (n / s)·Σ_{src ∈ S} δ_src(v).

    This is THE scale path for betweenness on graphs where all-source
    Brandes (O(V·E)) is unaffordable: s sources bound the work at
    O(s·E) with the estimator unbiased over the sample distribution
    (Brandes & Pich 2007 pivot sampling). The sample is pseudo-random
    but deterministic — vertices ordered by the engine's md5→int64
    hash of (seed, id) — so results are reproducible AND the DuckDB
    oracle (``betweenness_sampled_oracle_sql``) replays the identical
    sample. s = n degenerates to exact ``betweenness_broadcast``.
    """
    verts = graph.vertices()
    n = verts.count()
    s = min(n_samples, n)
    hkey = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(seed), F.col("id"))), 1, 15),
        16, 10,
    ).cast("long")
    sample = verts.orderBy(hkey, "id").limit(s)
    srcs = [r.id for r in sample.collect()]  # bounded by n_samples
    part = betweenness_broadcast(graph, sources=srcs)
    scale = float(n) / float(s)
    return part.select("id", (F.col("bc") * F.lit(scale)).alias("bc"))


def betweenness_sampled_oracle_sql(
    edges_cte: str, n_samples: int, seed: str = "bcs", max_depth: int = 8
) -> str:
    """DuckDB twin of ``betweenness_sampled``: the same md5-ordered
    source sample over the unrolled-APSP pair-dependency sum, scaled by
    n/s. Output (id, bc) rounded to 6, ordered by id."""
    return f"""WITH {apsp_oracle_cte(edges_cte, max_depth)},
samp AS (
  SELECT id FROM verts
  ORDER BY CAST(('0x' || substr(md5(concat('{seed}', ':', id)), 1, 15))
                AS BIGINT), id
  LIMIT {n_samples}
),
scale AS (
  SELECT CAST((SELECT COUNT(*) FROM verts) AS DOUBLE)
         / LEAST({n_samples}, (SELECT COUNT(*) FROM verts)) AS f
),
bcsum AS (
  SELECT sv.v AS id, SUM(sv.sigma * vt.sigma / st.sigma) AS bc
  FROM ds st
  JOIN samp ON st.s = samp.id
  JOIN ds sv ON sv.s = st.s AND sv.v <> st.s AND sv.v <> st.v
  JOIN ds vt ON vt.s = sv.v AND vt.v = st.v AND sv.d + vt.d = st.d
  WHERE st.s <> st.v
  GROUP BY sv.v
)
SELECT v.id, ROUND(COALESCE(b.bc, 0.0) * (SELECT f FROM scale), 6) AS bc
FROM verts v LEFT JOIN bcsum b ON v.id = b.id ORDER BY v.id"""
