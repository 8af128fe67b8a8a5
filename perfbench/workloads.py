"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``, never
timed), loads them into the engine (``load``, part of set-up), then runs
closed-loop repetitions (``rep``, timed) from one client: the next
repetition starts only after the previous one returned its collected
result. ``verify`` checks every repetition against a reference that an
independent path of the package computes once, during set-up.

Layer calls go through module attributes (``pr_mod.pagerank``, ...) so
the tracer's rebinding of a module attribute reaches them.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import loadgen
from centrality_gpu_spark.operators import betweenness as bc_mod
from centrality_gpu_spark.operators import closeness as cl_mod
from centrality_gpu_spark.operators import components as cc_mod
from centrality_gpu_spark.operators import csrkernels
from centrality_gpu_spark.operators import eigenvector as ev_mod
from centrality_gpu_spark.operators import labelprop as lp_mod
from centrality_gpu_spark.operators import pagerank as pr_mod
from centrality_gpu_spark.operators import superstep
from centrality_gpu_spark.operators import triangles as tri_mod
from centrality_gpu_spark.plans import checkpoint as ck_mod
from centrality_gpu_spark.sources import testdata_graphs
from centrality_gpu_spark.sources import transcripts as tx_mod
from centrality_gpu_spark.streaming import transcripts as stream_mod

TOL = 1e-6  # PageRank convergence bar and the allclose tolerance
ALPHA = 0.85
EV_ITERS = 2
LPA_ITERS = 5
EDGES_CTE = "edges AS (SELECT src, dst, weight FROM edge_list)"


class Mismatch(AssertionError):
    """A repetition's output disagrees with its reference."""


def by_id(pdf: pd.DataFrame, col: str) -> pd.Series:
    return pdf.set_index("id")[col].sort_index()


def check_close(what: str, got: pd.Series, ref: pd.Series,
                rtol: float = 0.0) -> None:
    if not got.index.equals(ref.index):
        raise Mismatch(f"{what}: vertex sets differ ({len(got)} vs {len(ref)})")
    g, r = got.to_numpy(), ref.to_numpy()
    if not np.allclose(g, r, rtol=rtol, atol=TOL):
        err = float(np.max(np.abs(g - r)))
        raise Mismatch(f"{what}: max abs error {err:.3g} > {TOL}")


def check_equal(what: str, got, ref) -> None:
    same = got.equals(ref) if isinstance(got, pd.Series) else got == ref
    if not same:
        raise Mismatch(f"{what}: got {got!r}, expected {ref!r}"[:400])


def oracle(edges: pd.DataFrame, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        con.register("edge_list", edges)
        return con.execute(sql).df()
    finally:
        con.close()


@contextmanager
def step(ctx, steps: dict, name: str):
    """Time one step of a repetition into ``steps`` and, when tracing,
    record it as a span."""
    t0 = time.perf_counter()
    with ctx.tracer.span(name):
        yield
    steps[name] = time.perf_counter() - t0


class Ctx:
    """What a workload needs from the run."""

    def __init__(self, spark, seed: int, size: str, work: str, data: str,
                 tracer):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.work = work  # this run's scratch, removed at exit
        self.data = data  # generated inputs, kept across runs
        self.tracer = tracer


class Workload:
    name = ""
    load_passes = 1  # set-up passes whose median counts toward setup_s
    # untimed repetitions after the warm-up, counted in neither set-up nor
    # job_s, for workloads whose repetitions keep speeding up while the
    # JVM compiles their hot paths
    settle_reps = 0

    def prepare(self, ctx: Ctx) -> None:
        """Generate inputs and expectations (untimed)."""

    def load(self, ctx: Ctx) -> None:
        """Load inputs into the engine (timed, part of set-up)."""

    def unload(self, ctx: Ctx) -> None:
        """Undo ``load`` before a repeated set-up pass."""

    def more(self) -> bool:
        """Whether another repetition has input left."""
        return True

    def rep(self, ctx: Ctx, scratch: str) -> dict:
        """One timed repetition; returns collected outputs."""
        raise NotImplementedError

    def verify(self, ctx: Ctx, out: dict) -> None:
        """Raise ``Mismatch`` when ``out`` disagrees with the reference."""

    def release(self, out: dict) -> None:
        """Free what a repetition cached (untimed)."""


# --------------------------------------------------- transcripts-pipeline

def expected_transcript_edges(table: str, max_tool_degree: int = 1000) -> int:
    """Directed edge count of ``transcript_graph`` (tool + co-invocation
    edges), derived with pandas straight from the parquet table."""
    df = pq.read_table(table, columns=["conv_id", "tool"]).to_pandas()
    inv = df.dropna(subset=["tool"]).drop_duplicates()
    tool_deg = inv.groupby("tool")["conv_id"].transform("size")
    proj = inv[tool_deg <= max_tool_degree]
    pairs = proj.merge(proj, on="tool")
    pairs = pairs[pairs["conv_id_x"] < pairs["conv_id_y"]]
    n_pairs = len(pairs[["conv_id_x", "conv_id_y"]].drop_duplicates())
    return 2 * (len(inv) + n_pairs)


def invocation_counts(turns: pd.DataFrame) -> pd.Series:
    """(conv_id, tool) → n over distinct turns: what the delta log must
    sum to under exactly-once accounting."""
    t = turns.drop_duplicates(["conv_id", "turn_idx"])
    t = t[t["tool"].notna()]
    return t.groupby(["conv_id", "tool"]).size().sort_index()


class TranscriptsPipeline(Workload):
    """Ingest, then recompute: a batch of new transcripts lands and is
    streamed into the edge-delta log (at-least-once delivery, so it
    replays turns the stream has seen), then the batch pipeline
    recomputes the analytics of the transcripts table: transcript_graph,
    a dst-partitioned block store, PageRank to 1e-6 with durable
    checkpoints, eigenvector centrality on the same store, components."""

    name = "transcripts-pipeline"
    load_passes = 3

    def __init__(self):
        self.ref = None

    def prepare(self, ctx):
        self.paths = loadgen.transcripts_inputs(
            ctx.spark, ctx.data, ctx.seed, ctx.size
        )
        self.expected_edges = expected_transcript_edges(self.paths["base"])
        self.turns = pq.read_table(self.paths["base"]).to_pandas().iloc[:0]
        self.next_batch = 0

    def load(self, ctx):
        self.transcripts = ctx.spark.read.parquet(self.paths["base"])
        d = os.path.join(ctx.work, "stream")
        self.in_dir = os.path.join(d, "incoming")
        self.delta = os.path.join(d, "deltas")
        self.stream_ckpt = os.path.join(d, "checkpoint")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.in_dir)
        # the base lands before the stream's first run, which the warm-up
        # repetition makes (together with batch 0)
        shutil.copyfile(
            os.path.join(self.paths["base"], "part-000.parquet"),
            os.path.join(self.in_dir, "base.parquet"),
        )
        self.landed = [os.path.join(self.paths["base"], "part-000.parquet")]

    def more(self):
        return self.next_batch < len(self.paths["batches"])

    def rep(self, ctx, scratch):
        spark, steps = ctx.spark, {}
        k = self.next_batch
        self.next_batch += 1
        batch = self.paths["batches"][k]
        shutil.copyfile(batch, os.path.join(self.in_dir, os.path.basename(batch)))
        landed, self.landed = self.landed + [batch], []
        with step(ctx, steps, "streaming.edge_delta"):
            stream_mod.run_edge_delta_stream(
                spark, self.in_dir, self.delta, self.stream_ckpt
            )
        with step(ctx, steps, "sources"):
            tg = tx_mod.transcript_graph(self.transcripts)
            g = tg.graph.persist()
            n_edges = g.edges.count()
        with step(ctx, steps, "block_store"):
            blocked = superstep.block_edges(
                g, scratch_dir=os.path.join(scratch, "blocks"),
                partition_by="dst",
            )
        ckpt = ck_mod.CheckpointManager(
            spark, root=os.path.join(scratch, "ckpt")
        )
        with step(ctx, steps, "pagerank"):
            pr = pr_mod.pagerank(
                g, tol=TOL, mode="csr", checkpoint=ckpt, blocked=blocked
            ).toPandas()
        with step(ctx, steps, "eigenvector"):
            ev = ev_mod.eigenvector_centrality(
                g, fixed_iterations=EV_ITERS, mode="csr", blocked=blocked
            ).toPandas()
        with step(ctx, steps, "components"):
            cc = cc_mod.connected_components(g).toPandas()
        iters = sum(1 for r in ckpt.metrics if r.get("op") == "pagerank")
        return {
            "landed": landed,
            "graph": g, "vertex_map": tg.vertex_map, "blocked": blocked,
            "edges": n_edges, "iterations": iters, "pr": pr, "ev": ev,
            "cc": cc, "steps": steps,
            "headline": {
                "pagerank_to_1e6_s": (steps["pagerank"], "s"),
                "spmv_edges_per_s": (n_edges * iters / steps["pagerank"],
                                     "edges/s"),
            },
        }

    def _reference(self, out):
        """DuckDB oracles and the numpy component sweep over the graph
        the first repetition built. PageRank's iteration count is
        re-derived: the oracle must converge exactly where the engine
        stopped."""
        edges = out["graph"].edges.select("src", "dst", "weight").toPandas()
        k = out["iterations"]
        prs = {
            j: by_id(oracle(edges, pr_mod.pagerank_oracle_sql(
                EDGES_CTE, alpha=ALPHA, iterations=j, round_digits=15)),
                "rank")
            for j in range(max(0, k - 2), k + 1)
        }
        moved = float(np.max(np.abs(prs[k] - prs[k - 1])))
        if moved >= TOL:
            raise Mismatch(f"pagerank stopped after {k} iterations with "
                           f"a last move of {moved:.3g} >= {TOL}")
        if k >= 2 and float(np.max(np.abs(prs[k - 1] - prs[k - 2]))) < TOL:
            raise Mismatch(f"pagerank ran past convergence ({k} iterations)")
        ev = by_id(oracle(edges, ev_mod.eigenvector_oracle_sql(
            EDGES_CTE, iterations=EV_ITERS, round_digits=15)), "score")
        ids, indptr, indices = csrkernels.graph_to_csr(out["graph"])
        labels = csrkernels.csr_components(indptr, indices, len(ids))
        cc = pd.Series(ids[labels], index=pd.Index(ids, name="id"),
                       name="component").sort_index()
        return {"k": k, "pr": prs[k], "ev": ev, "cc": cc}

    def _verify_stream(self, out):
        """The delta log sums to the invocation counts of every distinct
        turn landed so far (replays counted once), and the last
        micro-batch added exactly the new (conv_id, tool) keys."""
        before = invocation_counts(self.turns)
        self.turns = pd.concat(
            [self.turns, *(pq.read_table(p).to_pandas() for p in out["landed"])],
            ignore_index=True,
        )
        expected = invocation_counts(self.turns)
        log = pq.read_table(self.delta).to_pandas()
        last = log[log["batch_id"] == log["batch_id"].max()]
        out["delta_rows"] = len(last)
        changed = expected.reindex(before.index) != before
        check_equal("delta rows", len(last),
                    len(expected.index.difference(before.index))
                    + int(changed.sum()))
        got = log.groupby(["conv_id", "tool"])["n"].sum().sort_index()
        check_equal("compacted invocations", got.rename(None),
                    expected.astype(got.dtype).rename(None))

    def verify(self, ctx, out):
        self._verify_stream(out)
        check_equal("directed edges", out["edges"], self.expected_edges)
        if self.ref is None:
            self.ref = self._reference(out)
        check_equal("pagerank iterations", out["iterations"], self.ref["k"])
        check_close("pagerank", by_id(out["pr"], "rank"), self.ref["pr"])
        check_close("eigenvector", by_id(out["ev"], "score"), self.ref["ev"])
        got = by_id(out["cc"], "component")
        check_equal("components", got.rename(None), self.ref["cc"].rename(None))

    def release(self, out):
        out["blocked"].unpersist()
        out["graph"].unpersist()
        out["vertex_map"].unpersist()


# --------------------------------------------------- copurchase-analytics

class CopurchaseAnalytics(Workload):
    name = "copurchase-analytics"
    load_passes = 3
    # measured: the four repetitions after the warm-up took 7.6, 6.5, 5.8
    # and 5.4 s, the ones after them 4.8-5.3 s
    settle_reps = 2

    def __init__(self):
        self.ref = None

    def prepare(self, ctx):
        self.sf_dir = loadgen.copurchase_lineitem(ctx.data, ctx.seed, ctx.size)
        li = pq.read_table(
            os.path.join(self.sf_dir, "lineitem.parquet")
        ).to_pandas()
        per_order = li.groupby("l_orderkey")["l_partkey"].transform("nunique")
        self.vertices = np.unique(li.loc[per_order >= 2, "l_partkey"])
        self.sources = loadgen.betweenness_sources(
            self.vertices, ctx.seed, loadgen.SIZES[ctx.size]["bc_sources"]
        )

    def load(self, ctx):
        self.graph = testdata_graphs.copurchase_graph(
            ctx.spark, self.sf_dir
        ).persist()
        self.n_edges = self.graph.edges.count()

    def unload(self, ctx):
        self.graph.unpersist()

    def rep(self, ctx, scratch):
        g, steps = self.graph, {}
        with step(ctx, steps, "betweenness"):
            bc = bc_mod.betweenness(g, sources=self.sources).toPandas()
        with step(ctx, steps, "closeness.harmonic"):
            harm = cl_mod.harmonic(g).toPandas()
        with step(ctx, steps, "triangles"):
            tri = int(tri_mod.triangle_count(g).collect()[0][0])
        with step(ctx, steps, "labelprop"):
            lpa = lp_mod.label_propagation(g, max_iterations=LPA_ITERS).toPandas()
        return {
            "bc": bc, "harmonic": harm, "triangles": tri, "lpa": lpa,
            "steps": steps,
            "headline": {
                "bc_teps": (len(self.sources) * self.n_edges
                            / steps["betweenness"], "edges/s"),
            },
        }

    def _reference(self):
        """Driver-side numpy kernels over the collected CSR, and DuckDB
        oracles for triangles and label propagation."""
        ids, indptr, indices = csrkernels.graph_to_csr(self.graph)
        n = len(ids)
        if not np.array_equal(ids, self.vertices):
            raise Mismatch(f"copurchase vertices: {n} vs {len(self.vertices)}")
        comp = csrkernels.csr_components(indptr, indices, n)
        index = pd.Index(ids, name="id")
        bc = bc_mod.brandes_kernel(
            indptr, indices, np.searchsorted(ids, self.sources), n, comp=comp
        )
        harm = csrkernels.msbfs_distance_stats_grouped(
            indptr, indices, np.arange(n), n, comp
        )[2]
        edges = self.graph.edges.select("src", "dst", "weight").toPandas()
        tri = oracle(edges, f"WITH {EDGES_CTE}, {tri_mod.TRIANGLE_COUNT_SQL} "
                            "SELECT COUNT(*) AS n FROM tri")["n"].iloc[0]
        lpa = oracle(edges, lp_mod.lpa_oracle_sql(EDGES_CTE, LPA_ITERS))
        return {
            "bc": pd.Series(bc, index=index), "harmonic": pd.Series(harm, index=index),
            "triangles": int(tri), "lpa": by_id(lpa, "label").astype("int64"),
        }

    def verify(self, ctx, out):
        if self.ref is None:
            self.ref = self._reference()
        check_close("betweenness", by_id(out["bc"], "bc"), self.ref["bc"],
                    rtol=1e-9)
        check_close("harmonic", by_id(out["harmonic"], "harmonic"),
                    self.ref["harmonic"], rtol=1e-9)
        check_equal("triangles", out["triangles"], self.ref["triangles"])
        got = by_id(out["lpa"], "label").astype("int64")
        check_equal("label propagation", got.rename(None),
                    self.ref["lpa"].rename(None))


WORKLOADS = {
    w.name: w
    for w in (TranscriptsPipeline, CopurchaseAnalytics)
}
