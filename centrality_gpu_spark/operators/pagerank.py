"""PageRank over the symmetrized edge table.

r'(v) = (1-α)/N + α · Σ_{(u,v)∈E} r(u)/deg(u)

Two physical modes sharing one logical plan:

- ``mode="csr"`` (default): the blocked-CSR SpMV primitive
  (operators/superstep.py) — per-iteration shuffle is O(V), edges stay
  cached in their buckets; hub skew salted. The scale path.
- ``mode="sql"``: plain DataFrame join+agg (Catalyst/Tungsten end to
  end). Used to cross-check the CSR kernel and for small graphs where
  JVM whole-stage codegen beats the Arrow round-trip.

Convergence: ‖Δ‖∞ < tol (the north rule's 1e-6 bar), or exactly
``fixed_iterations`` when the run must be bit-reproducible against the
DuckDB oracle (which unrolls the same recurrence as nested CTEs —
``pagerank_oracle_sql``).

Every vertex of the symmetrized graph has degree ≥ 1, so there are no
dangling vertices; the affine term handles rank conservation.
"""

from __future__ import annotations

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


def pagerank(
    graph: Graph,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iterations: int = 100,
    fixed_iterations: int | None = None,
    mode: str = "csr",
    checkpoint: CheckpointManager | None = None,
    blocked: BlockedEdges | None = None,
    weighted: bool = False,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Return (id:long, rank:double).

    ``weighted=True``: contributions are r(u)·w(u,v)/Σ_v w(u,v) — the
    natural semantics when edge weight = tool-invocation count
    (transcript graphs). Works in both modes: the CSR block store
    pre-folds the per-src weight normalization (``src_inv_wdeg``)
    exactly like the unweighted 1/deg, so the weighted hot loop also
    ships only (id, rank).

    ``init_ranks`` (id, rank): warm-start vector — e.g. the previous
    snapshot's converged ranks after a streaming edge merge (delta
    iteration: convergence from a warm start is fast because only
    ranks near changed edges move). New vertices get 1/n; the vector
    is renormalized to sum 1 over the current vertex set. A resumable
    checkpoint epoch still wins over ``init_ranks`` (exact resume
    beats warm start)."""
    ckpt = checkpoint or CheckpointManager(graph.spark)
    # loop-invariant inputs: materialize once, not per iteration
    verts = ckpt.truncate(graph.vertices())
    n = verts.count()
    graph._n = n
    if n == 0:
        return verts.withColumn("rank", F.lit(0.0))

    own_blocked = False
    if mode == "csr" and blocked is None:
        blocked = block_edges(graph)
        own_blocked = True

    name = "pagerank"
    start_iter = 0
    resumed = ckpt.latest_epoch(name)
    if resumed is not None:
        start_iter, ranks, _meta = resumed
        start_iter += 1
    elif init_ranks is not None:
        warm = verts.join(init_ranks.select("id", "rank"), "id", "left").select(
            "id", F.coalesce("rank", F.lit(1.0 / n)).alias("rank")
        )
        total = warm.agg(F.sum("rank")).collect()[0][0] or 1.0
        ranks = ckpt.truncate(
            warm.select("id", (F.col("rank") / F.lit(float(total))).alias("rank"))
        )
    else:
        ranks = verts.select("id", F.lit(1.0 / n).alias("rank"))
        ranks = ckpt.truncate(ranks)

    base = (1.0 - alpha) / n
    n_iter = fixed_iterations if fixed_iterations is not None else max_iterations

    import contextlib

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
        ranks = _pagerank_loop(
            graph, ranks, verts, start_iter, n_iter, base, alpha, mode,
            blocked, fixed_iterations, tol, ckpt, name, weighted,
        )

    if own_blocked:
        blocked.unpersist()
    return ranks


def _pagerank_loop(graph, ranks, verts, start_iter, n_iter, base, alpha, mode,
                   blocked, fixed_iterations, tol, ckpt, name, weighted=False):
    import time

    if _dense_ready(mode, blocked):
        return _pagerank_dense_loop(
            ranks, start_iter, n_iter, base, alpha, blocked,
            fixed_iterations, tol, ckpt, name, weighted,
        )

    for it in range(start_iter, n_iter):
        t0 = time.time()
        # contribution r(u)/deg(u): the 1/deg factor is pre-folded into
        # the edge structures (src_inv_deg), so the hot loop ships only
        # (id, rank) — no per-iteration degree join. Every vertex of the
        # symmetrized graph has ≥1 in-edge, so msgs covers all vertices
        # and no vertex left-join is needed either.
        vals = ranks.select("id", F.col("rank").alias("val"))
        if mode == "csr" and weighted:
            msgs = spmv(blocked, vals, divide_by_src_wdegree=True)
        elif mode == "csr":
            msgs = spmv(blocked, vals, weighted=False, divide_by_src_degree=True)
        elif weighted:
            msgs = spmv_sql(graph, vals, weighted=True, divide_by_src_wdegree=True)
        else:
            msgs = spmv_sql(graph, vals, weighted=False, divide_by_src_degree=True)
        new_ranks = msgs.select(
            "id", (F.lit(base) + F.lit(alpha) * F.col("msg")).alias("rank")
        )

        if fixed_iterations is None:
            # lazy truncate: the delta agg is the action that
            # materializes the checkpoint, so tol mode runs ONE job per
            # iteration instead of checkpoint-then-join
            new_ranks = ckpt.truncate(new_ranks, eager=False)
            delta = (
                new_ranks.alias("n")
                .join(ranks.alias("o"), "id")
                .agg(F.max(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("d"))
                .collect()[0]["d"]
            )
        else:
            new_ranks = ckpt.truncate(new_ranks)
            delta = None
        ckpt.record(op=name, iteration=it, delta=delta, secs=time.time() - t0)
        ranks = new_ranks
        if ckpt.should_save(it):
            ckpt.save_epoch(ranks, name, it)
        if delta is not None and delta < tol:
            break

    return ranks


def _pagerank_dense_loop(ranks, start_iter, n_iter, base, alpha, blocked,
                         fixed_iterations, tol, ckpt, name, weighted):
    """Dense-regime hot loop: the rank vector lives on the driver as a
    numpy array aligned to the store's global id map; each iteration is
    exactly one map-only Spark job (``spmv_dense``) plus an O(V) 8B
    broadcast out / 12B collect back. Same recurrence, same results
    (equivalence-tested vs the sql mode); the DataFrame plumbing
    (localCheckpoint job + Arrow round-trip per iteration) is deleted.
    Epoch saves and per-iteration metrics are unchanged."""
    import time

    import numpy as np

    from centrality_gpu_spark.operators.superstep import (
        dense_vector_from_df,
        dense_vector_to_df,
        spmv_dense,
    )

    vec = dense_vector_from_df(
        blocked, ranks.select("id", F.col("rank").alias("val"))
    )
    for it in range(start_iter, n_iter):
        t0 = time.time()
        msgs = spmv_dense(
            blocked,
            vec,
            divide_by_src_degree=not weighted,
            divide_by_src_wdegree=weighted,
        )
        new_vec = base + alpha * msgs
        delta = (
            float(np.max(np.abs(new_vec - vec)))
            if fixed_iterations is None and len(vec)
            else None
        )
        ckpt.record(op=name, iteration=it, delta=delta, secs=time.time() - t0)
        vec = new_vec
        if ckpt.should_save(it):
            ckpt.save_epoch(dense_vector_to_df(blocked, vec), name, it)
        if delta is not None and delta < tol:
            break
    return dense_vector_to_df(blocked, vec)


def pagerank_oracle_sql(
    edges_cte: str, alpha: float = 0.85, iterations: int = 5,
    round_digits: int = 8, weighted: bool = False,
) -> str:
    """DuckDB SQL computing the *identical* fixed-iteration recurrence by
    unrolling (recursive CTEs can't aggregate per step in DuckDB 1.0).

    ``edges_cte`` must define a CTE named ``edges(src,dst,weight)``
    holding both directions. Output: (id, rank) rounded — the Spark side
    rounds identically so the driver's value-hash comparison is stable.
    """
    deg_expr = "SUM(weight)" if weighted else "COUNT(*)"
    contrib = "p.rank * e.weight / d.degree" if weighted else "p.rank / d.degree"
    parts = [
        edges_cte,
        f"deg AS (SELECT src AS id, {deg_expr} AS degree FROM edges GROUP BY src)",
        "verts AS (SELECT id FROM deg)",
        "nv AS (SELECT COUNT(*) AS n FROM verts)",
        "pr0 AS (SELECT id, 1.0/(SELECT n FROM nv) AS rank FROM verts)",
    ]
    for k in range(iterations):
        parts.append(
            f"""c{k} AS (
  SELECT e.dst AS id, SUM({contrib}) AS msg
  FROM edges e
  JOIN pr{k} p ON e.src = p.id
  JOIN deg d ON e.src = d.id
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""pr{k + 1} AS (
  SELECT v.id,
         (1.0 - {alpha})/(SELECT n FROM nv) + {alpha} * COALESCE(c.msg, 0.0) AS rank
  FROM verts v LEFT JOIN c{k} c ON v.id = c.id
)"""
        )
    final = (
        f"SELECT id, ROUND(rank, {round_digits}) AS rank "
        f"FROM pr{iterations} ORDER BY id"
    )
    return "WITH " + ",\n".join(parts) + "\n" + final


def pagerank_residuals(
    graph: Graph,
    alpha: float = 0.85,
    iterations: int = 5,
    round_digits: int = 8,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """Per-iteration convergence trace: (iteration:int, linf_delta:
    double) — ‖r_k − r_{k−1}‖∞ for k = 1..iterations, the quantity the
    north metric's "PageRank iterations-to-1e-6" stopping rule watches
    (and what ``pagerank(tol=...)`` tests against each step).

    Same recurrence as ``pagerank(mode="sql")``; the residual is one
    O(V) distributed join+max per iteration (collecting a single scalar,
    never the vector). The unrolled DuckDB twin
    (``pagerank_residuals_oracle_sql``) replays the identical trace, so
    convergence behavior itself — not just the final vector — rides the
    driver's hash gate.
    """
    from centrality_gpu_spark.operators.superstep import spmv_sql

    ckpt = checkpoint or CheckpointManager(graph.spark)
    verts = ckpt.truncate(graph.vertices())
    n = verts.count()
    schema = "iteration int, linf_delta double"
    if n == 0:
        return graph.spark.createDataFrame([], schema)
    base = (1.0 - alpha) / n
    ranks = verts.select("id", F.lit(1.0 / n).alias("rank"))
    rows: list[tuple[int, float]] = []
    for it in range(iterations):
        vals = ranks.select("id", F.col("rank").alias("val"))
        msgs = spmv_sql(graph, vals, weighted=False, divide_by_src_degree=True)
        new_ranks = ckpt.truncate(
            msgs.select(
                "id", (F.lit(base) + F.lit(alpha) * F.col("msg")).alias("rank")
            )
        )
        d = (
            new_ranks.alias("n")
            .join(ranks.alias("o"), "id")
            .agg(
                F.round(
                    F.max(F.abs(F.col("n.rank") - F.col("o.rank"))),
                    round_digits,
                ).alias("d")
            )
            .collect()[0]["d"]
        )
        rows.append((it + 1, float(d)))
        ranks = new_ranks
    return graph.spark.createDataFrame(rows, schema)


def pagerank_residuals_oracle_sql(
    edges_cte: str, alpha: float = 0.85, iterations: int = 5,
    round_digits: int = 8,
) -> str:
    """DuckDB twin of ``pagerank_residuals``: the same unrolled
    recurrence as ``pagerank_oracle_sql`` plus one max-abs-delta select
    per step. Output (iteration, linf_delta) ordered by iteration."""
    parts = [
        edges_cte,
        "deg AS (SELECT src AS id, COUNT(*) AS degree FROM edges GROUP BY src)",
        "verts AS (SELECT id FROM deg)",
        "nv AS (SELECT COUNT(*) AS n FROM verts)",
        "pr0 AS (SELECT id, 1.0/(SELECT n FROM nv) AS rank FROM verts)",
    ]
    for k in range(iterations):
        parts.append(
            f"""c{k} AS (
  SELECT e.dst AS id, SUM(p.rank / d.degree) AS msg
  FROM edges e
  JOIN pr{k} p ON e.src = p.id
  JOIN deg d ON e.src = d.id
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""pr{k + 1} AS (
  SELECT v.id,
         (1.0 - {alpha})/(SELECT n FROM nv) + {alpha} * COALESCE(c.msg, 0.0) AS rank
  FROM verts v LEFT JOIN c{k} c ON v.id = c.id
)"""
        )
        parts.append(
            f"""d{k} AS (
  SELECT {k + 1} AS iteration,
         ROUND(MAX(ABS(n.rank - o.rank)), {round_digits}) AS linf_delta
  FROM pr{k + 1} n JOIN pr{k} o ON n.id = o.id
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM d{k}" for k in range(iterations)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT CAST(iteration AS INTEGER) AS iteration, linf_delta"
        f" FROM ({union}) ORDER BY iteration"
    )


# ------------------------------------------------- personalized PageRank

def personalized_pagerank(
    graph: Graph,
    seeds: DataFrame,
    alpha: float = 0.85,
    fixed_iterations: int = 10,
    mode: str = "csr",
    blocked: BlockedEdges | None = None,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """Random-walk-with-restart ranks: (id:long, rank:double).

        r'(v) = (1-α)·p(v) + α · Σ_{(u,v)∈E} r(u)/deg(u)

    with restart distribution p uniform over ``seeds`` (id:long) — the
    similarity/recommendation query over the transcript graph ("which
    conversations/tools sit near these seeds in the link structure").
    Same SpMV superstep as ``pagerank``; the only extra per-iteration
    work is adding the static base vector, an O(V) join against the
    loop-invariant seed DF. Fixed iterations so the unrolled DuckDB
    oracle (``ppr_oracle_sql``) replays the identical recurrence.
    """
    ckpt = checkpoint or CheckpointManager(graph.spark)
    verts = ckpt.truncate(graph.vertices())
    n_seeds = seeds.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs at least one seed")
    base = (1.0 - alpha) / n_seeds
    base_df = ckpt.truncate(
        verts.join(seeds.select("id").withColumn("_s", F.lit(1)), "id", "left")
        .select(
            "id",
            F.when(F.col("_s").isNotNull(), F.lit(base)).otherwise(F.lit(0.0)).alias("base"),
            F.when(F.col("_s").isNotNull(), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0)).alias("rank"),
        )
    )
    ranks = base_df.select("id", "rank")

    own_blocked = False
    if mode == "csr" and blocked is None:
        blocked = block_edges(graph)
        own_blocked = True

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
        for it in range(fixed_iterations):
            t0 = time.time()
            vals = ranks.select("id", F.col("rank").alias("val"))
            if mode == "csr":
                msgs = spmv(blocked, vals, weighted=False, divide_by_src_degree=True)
            else:
                msgs = spmv_sql(graph, vals, weighted=False, divide_by_src_degree=True)
            ranks = ckpt.truncate(
                base_df.select("id", "base")
                .join(msgs, "id", "left")
                .select(
                    "id",
                    (F.col("base")
                     + F.lit(alpha) * F.coalesce("msg", F.lit(0.0))).alias("rank"),
                )
            )
            ckpt.record(op="ppr", iteration=it, secs=time.time() - t0)

    if own_blocked:
        blocked.unpersist()
    return ranks


def ppr_oracle_sql(
    edges_cte: str, seeds_cte: str, alpha: float = 0.85,
    iterations: int = 10, round_digits: int = 8,
) -> str:
    """Unrolled DuckDB twin of ``personalized_pagerank``.

    ``seeds_cte`` must define a CTE ``seeds(id)``. Same fixed-budget
    unrolling idiom as ``pagerank_oracle_sql``.
    """
    parts = [
        edges_cte,
        seeds_cte,
        "deg AS (SELECT src AS id, COUNT(*) AS degree FROM edges GROUP BY src)",
        "verts AS (SELECT id FROM deg)",
        "ns AS (SELECT COUNT(*) AS n FROM seeds)",
        "basev AS (SELECT v.id,"
        f" CASE WHEN s.id IS NOT NULL THEN (1.0 - {alpha})/(SELECT n FROM ns)"
        " ELSE 0.0 END AS base,"
        " CASE WHEN s.id IS NOT NULL THEN 1.0/(SELECT n FROM ns)"
        " ELSE 0.0 END AS rank"
        " FROM verts v LEFT JOIN seeds s ON v.id = s.id)",
        "pr0 AS (SELECT id, rank FROM basev)",
    ]
    for k in range(iterations):
        parts.append(
            f"""c{k} AS (
  SELECT e.dst AS id, SUM(p.rank / d.degree) AS msg
  FROM edges e
  JOIN pr{k} p ON e.src = p.id
  JOIN deg d ON e.src = d.id
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""pr{k + 1} AS (
  SELECT b.id, b.base + {alpha} * COALESCE(c.msg, 0.0) AS rank
  FROM basev b LEFT JOIN c{k} c ON b.id = c.id
)"""
        )
    final = (
        f"SELECT id, ROUND(rank, {round_digits}) AS rank "
        f"FROM pr{iterations} ORDER BY id"
    )
    return "WITH " + ",\n".join(parts) + "\n" + final
