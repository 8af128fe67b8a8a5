"""Eigenvector centrality by power iteration on the SpMV superstep.

    x_{k+1} = A·x_k / ‖A·x_k‖₂,   x_0 = 1/√n

On the symmetrized edge table A is symmetric, so this converges to the
principal eigenvector (Perron vector) for connected non-bipartite
graphs — the classic link-analysis score PageRank generalizes, and the
undirected degenerate case of HITS (hubs ≡ authorities when A = Aᵀ).
One more thin client of the G13 superstep primitive
(``operators/superstep.py``): per-iteration cost is one SpMV plus an
O(V) scalar norm reduction.

Fixed-iteration mode replays bit-identically against the unrolled
DuckDB oracle (``eigenvector_oracle_sql``), the same fixed-budget trick
as ``pagerank_oracle_sql``. On bipartite graphs the unnormalized power
sequence oscillates between the two sides; the fixed-iteration
recurrence is still deterministic (and the oracle replays it), but
convergence mode should not be used there.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from centrality_gpu_spark.graph import Graph
from centrality_gpu_spark.operators.superstep import (
    BlockedEdges,
    _dense_ready,
    block_edges,
    spmv,
    spmv_sql,
)
from centrality_gpu_spark.plans.checkpoint import CheckpointManager


def eigenvector_centrality(
    graph: Graph,
    fixed_iterations: int | None = None,
    tol: float = 1e-8,
    max_iterations: int = 200,
    mode: str = "csr",
    weighted: bool = False,
    blocked: BlockedEdges | None = None,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """Return (id:long, score:double), ‖score‖₂ = 1.

    ``weighted=True`` iterates on the weighted adjacency (edge weight =
    e.g. tool co-invocation count). Convergence mode stops when
    ‖x_{k+1} − x_k‖∞ < tol (component-wise, both L2-normalized).
    """
    ckpt = checkpoint or CheckpointManager(graph.spark)
    verts = ckpt.truncate(graph.vertices())
    n = verts.count()
    if n == 0:
        return verts.withColumn("score", F.lit(0.0))

    own_blocked = False
    if mode == "csr" and blocked is None:
        blocked = block_edges(graph)
        own_blocked = True

    x = ckpt.truncate(verts.select("id", F.lit(1.0 / math.sqrt(n)).alias("score")))
    n_iter = fixed_iterations if fixed_iterations is not None else max_iterations

    import contextlib
    import time

    from centrality_gpu_spark.plans.checkpoint import (
        ITERATIVE_CONF_MIN_EDGES,
        iterative_conf,
    )

    cm = (
        iterative_conf(graph.spark)
        if graph.num_edges() >= ITERATIVE_CONF_MIN_EDGES
        else contextlib.nullcontext()
    )
    with cm:
        if _dense_ready(mode, blocked):
            x = _eigen_dense_loop(
                x, blocked, n_iter, fixed_iterations, tol, ckpt, weighted
            )
            if own_blocked:
                blocked.unpersist()
            return x.select("id", "score")
        for it in range(n_iter):
            t0 = time.time()
            vals = x.select("id", F.col("score").alias("val"))
            if mode == "csr":
                msgs = spmv(blocked, vals, weighted=weighted)
            else:
                msgs = spmv_sql(graph, vals, weighted=weighted)
            # vertices with no in-messages keep score 0 (isolated can't
            # occur on an edge-built graph, but frontier coverage can
            # shrink on weight-0 edges)
            y = verts.join(msgs, "id", "left").select(
                "id", F.coalesce("msg", F.lit(0.0)).alias("y")
            )
            # lazy truncate folded into the norm agg: one job cuts the
            # lineage AND computes the norm; new_x then stays a cheap
            # projection over the checkpointed y (no second truncate —
            # lineage depth is O(1) per iteration regardless)
            y = ckpt.truncate(y, eager=False)
            norm = y.agg(F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("n")).collect()[0]["n"]
            if not norm or norm == 0.0:
                x = y.select("id", F.col("y").alias("score"))
                break
            new_x = y.select(
                "id", (F.col("y") / F.lit(float(norm))).alias("score")
            )
            if fixed_iterations is None:
                delta = (
                    new_x.alias("a")
                    .join(x.alias("b"), "id")
                    .agg(F.max(F.abs(F.col("a.score") - F.col("b.score"))).alias("d"))
                    .collect()[0]["d"]
                )
            else:
                delta = None
            ckpt.record(op="eigenvector", iteration=it, delta=delta, secs=time.time() - t0)
            x = new_x
            if delta is not None and delta < tol:
                break

    if own_blocked:
        blocked.unpersist()
    return x.select("id", "score")


def eigenvector_oracle_sql(
    edges_cte: str, iterations: int = 10, round_digits: int = 8,
    weighted: bool = False,
) -> str:
    """Unrolled DuckDB twin of fixed-iteration ``eigenvector_centrality``
    (``edges_cte`` must define ``edges(src, dst, weight)``, both
    directions)."""
    contrib = "x.score * e.weight" if weighted else "x.score"
    # MATERIALIZED everywhere: x{k+1} reads y{k} twice (norm subquery +
    # projection), so default CTE inlining re-expands the whole chain —
    # exponential over the copurchase self-join without it.
    parts = [
        edges_cte.replace("edges AS (", "edges AS MATERIALIZED (", 1),
        "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges)",
        "nv AS (SELECT COUNT(*) AS n FROM verts)",
        "x0 AS MATERIALIZED "
        "(SELECT id, 1.0/SQRT((SELECT n FROM nv)) AS score FROM verts)",
    ]
    for k in range(iterations):
        parts.append(
            f"""y{k} AS MATERIALIZED (
  SELECT v.id, COALESCE(m.msg, 0.0) AS y
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, SUM({contrib}) AS msg
    FROM edges e JOIN x{k} x ON e.src = x.id GROUP BY e.dst
  ) m ON v.id = m.id
)"""
        )
        parts.append(
            f"x{k + 1} AS MATERIALIZED "
            f"(SELECT id, y / (SELECT SQRT(SUM(y*y)) FROM y{k}) "
            f"AS score FROM y{k})"
        )
    final = (
        f"SELECT id, ROUND(score, {round_digits}) AS score "
        f"FROM x{iterations} ORDER BY id"
    )
    return "WITH " + ",\n".join(parts) + "\n" + final


# ---------------------------------------------------------------- Katz

def _eigen_dense_loop(x, blocked, n_iter, fixed_iterations, tol, ckpt, weighted):
    """Power iteration with the vector driver-resident: ONE map-only
    Spark job per iteration (``spmv_dense``); norm and delta are O(V)
    numpy on the driver. Deletes the per-iteration localCheckpoint +
    norm-collect jobs of the DataFrame loop (measured 2.8 s/iter → the
    pagerank dense loop's ~0.9 s/iter on the sf0.1 bench graph). Same
    recurrence; equivalence covered by the csr-vs-sql allclose tests."""
    import time

    import numpy as np

    from centrality_gpu_spark.operators.superstep import (
        dense_vector_from_df,
        dense_vector_to_df,
        spmv_dense,
    )

    vec = dense_vector_from_df(blocked, x.select("id", F.col("score").alias("val")))
    for it in range(n_iter):
        t0 = time.time()
        y = spmv_dense(blocked, vec, weighted=weighted)
        norm = float(np.sqrt(np.sum(y * y)))
        if norm == 0.0:
            vec = y
            ckpt.record(op="eigenvector", iteration=it, delta=None,
                        secs=time.time() - t0)
            break
        new_vec = y / norm
        delta = (
            float(np.max(np.abs(new_vec - vec)))
            if fixed_iterations is None and len(vec)
            else None
        )
        ckpt.record(op="eigenvector", iteration=it, delta=delta,
                    secs=time.time() - t0)
        vec = new_vec
        if delta is not None and delta < tol:
            break
    return dense_vector_to_df(blocked, vec, col="score")


def _katz_dense_loop(x, blocked, alpha, beta, n_iter, fixed_iterations, tol,
                     ckpt, weighted):
    """Katz recurrence x ← α·Aᵀx + β with the vector driver-resident —
    same one-job-per-iteration shape as ``_eigen_dense_loop``."""
    import time

    import numpy as np

    from centrality_gpu_spark.operators.superstep import (
        dense_vector_from_df,
        dense_vector_to_df,
        spmv_dense,
    )

    vec = dense_vector_from_df(blocked, x.select("id", F.col("katz").alias("val")))
    for it in range(n_iter):
        t0 = time.time()
        msgs = spmv_dense(blocked, vec, weighted=weighted)
        new_vec = alpha * msgs + float(beta)
        delta = (
            float(np.max(np.abs(new_vec - vec)))
            if fixed_iterations is None and len(vec)
            else None
        )
        ckpt.record(op="katz", iteration=it, delta=delta, secs=time.time() - t0)
        vec = new_vec
        if delta is not None and delta < tol:
            break
    return dense_vector_to_df(blocked, vec, col="katz")


def katz_centrality(
    graph: Graph,
    alpha: float = 0.01,
    beta: float = 1.0,
    fixed_iterations: int | None = None,
    tol: float = 1e-8,
    max_iterations: int = 200,
    mode: str = "csr",
    weighted: bool = False,
    blocked: BlockedEdges | None = None,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """Katz centrality: (id:long, katz:double), x_{k+1} = α·A·x_k + β.

    Converges for α < 1/λ_max (caller's contract, as in networkx);
    unlike eigenvector centrality the β teleport term keeps bipartite
    graphs (the events conv↔tool graph) from oscillating. x_0 = β —
    matches an unrolled truncation of Σ_k α^k A^k · β1. No final
    normalization (raw Katz scores), so the unrolled DuckDB oracle
    (``katz_oracle_sql``) replays fixed-iteration mode bit-for-bit.
    """
    ckpt = checkpoint or CheckpointManager(graph.spark)
    verts = ckpt.truncate(graph.vertices())

    own_blocked = False
    if mode == "csr" and blocked is None:
        blocked = block_edges(graph)
        own_blocked = True

    x = ckpt.truncate(verts.select("id", F.lit(float(beta)).alias("katz")))
    n_iter = fixed_iterations if fixed_iterations is not None else max_iterations

    import contextlib
    import time

    from centrality_gpu_spark.plans.checkpoint import (
        ITERATIVE_CONF_MIN_EDGES,
        iterative_conf,
    )

    cm = (
        iterative_conf(graph.spark)
        if graph.num_edges() >= ITERATIVE_CONF_MIN_EDGES
        else contextlib.nullcontext()
    )
    with cm:
        if _dense_ready(mode, blocked):
            x = _katz_dense_loop(
                x, blocked, alpha, beta, n_iter, fixed_iterations, tol,
                ckpt, weighted,
            )
            if own_blocked:
                blocked.unpersist()
            return x.select("id", "katz")
        for it in range(n_iter):
            t0 = time.time()
            vals = x.select("id", F.col("katz").alias("val"))
            if mode == "csr":
                msgs = spmv(blocked, vals, weighted=weighted)
            else:
                msgs = spmv_sql(graph, vals, weighted=weighted)
            new_x = verts.join(msgs, "id", "left").select(
                "id",
                (F.lit(alpha) * F.coalesce("msg", F.lit(0.0))
                 + F.lit(float(beta))).alias("katz"),
            )
            if fixed_iterations is None:
                # lazy truncate: the delta agg materializes the
                # checkpoint — one job per iteration, not two
                new_x = ckpt.truncate(new_x, eager=False)
                delta = (
                    new_x.alias("a")
                    .join(x.alias("b"), "id")
                    .agg(F.max(F.abs(F.col("a.katz") - F.col("b.katz"))).alias("d"))
                    .collect()[0]["d"]
                )
            else:
                new_x = ckpt.truncate(new_x)
                delta = None
            ckpt.record(op="katz", iteration=it, delta=delta, secs=time.time() - t0)
            x = new_x
            if delta is not None and delta < tol:
                break

    if own_blocked:
        blocked.unpersist()
    return x.select("id", "katz")


def katz_oracle_sql(
    edges_cte: str, alpha: float = 0.01, beta: float = 1.0,
    iterations: int = 8, round_digits: int = 8, weighted: bool = False,
) -> str:
    """Unrolled DuckDB twin of fixed-iteration ``katz_centrality``."""
    contrib = "x.katz * e.weight" if weighted else "x.katz"
    parts = [
        edges_cte.replace("edges AS (", "edges AS MATERIALIZED (", 1),
        "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges)",
        f"x0 AS (SELECT id, CAST({beta} AS DOUBLE) AS katz FROM verts)",
    ]
    for k in range(iterations):
        parts.append(
            f"""x{k + 1} AS MATERIALIZED (
  SELECT v.id, CAST({alpha} AS DOUBLE) * COALESCE(m.msg, 0.0)
         + CAST({beta} AS DOUBLE) AS katz
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, SUM({contrib}) AS msg
    FROM edges e JOIN x{k} x ON e.src = x.id GROUP BY e.dst
  ) m ON v.id = m.id
)"""
        )
    final = (
        f"SELECT id, ROUND(katz, {round_digits}) AS katz "
        f"FROM x{iterations} ORDER BY id"
    )
    return "WITH " + ",\n".join(parts) + "\n" + final
