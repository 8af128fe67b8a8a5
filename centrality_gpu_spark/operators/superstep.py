"""The SpMV superstep primitive: one on-disk CSR block store, one kernel.

This is the engine's physical core (SURVEY.md §2.10 G13, §7 step 2) —
the Spark re-expression of the reference's CSR kernels: counting-sort
CSR build (``graph_ear_decompos.h:36-101``), edge-parallel gather
(``kernels_free.cu:288-336``) and atomic scatter-add
(``kernels_free.cu:301-304``).

Physical design, and why it scales:

- **One block store.** ``block_edges`` buckets the edge table ONCE into
  ``n_blocks`` blocks and writes each block as coded ``.npy`` arrays
  (the v3 layout, ``_write_coded_blocks``): edges sorted by (dst, src),
  dense per-block src codes, a dst segment index and per-unique-src
  degree factors. Python workers ``np.load(mmap_mode='r')`` a block on
  first touch and keep it in a process-local LRU keyed by the store's
  build id (``_load_csr_block``), so supersteps never move the edges —
  the analog of the reference keeping CSR resident on the GPU across
  sources (``kernels_free.cu:43-79``).
- **One kernel.** Every superstep runs ``_block_spmv`` per block: look
  up the block's source values, fold in the degree factor, gather by
  ``src_inv``, multiply by ``w`` and segment-sum with
  ``np.add.reduceat`` over ``dst_indptr`` (the sort makes the
  scatter-add sequential).
- **Two bucketings, chosen by vertex count.** ``dst`` (V ≤
  ``BROADCAST_VALUES_MAX_VERTICES``, the default whenever it fits):
  blocks own disjoint dst sets, the O(V) value vector is broadcast and
  a superstep is one map-only job with no combine shuffle (``spmv`` on
  DataFrames, ``spmv_dense`` on driver vectors). ``src`` (above the
  guard): values are routed to their source's block and the per-block
  partial sums meet in a sparse (id, partial) combine, so no V-sized
  structure exists anywhere.
- **Hub skew (power-law)** is salted only in the ``src`` store, where a
  high-degree source would put all its edges in one block: sources
  above ``hub_threshold`` get their edges spread across blocks by
  ``hash(src, dst)`` and their value rows replicated to every block
  (hubs are few, so replication is ≤ |hubs|·n_blocks rows). A ``dst``
  store needs no salting — the value side is broadcast, and a
  high-in-degree vertex only fattens its own block, bounding task skew
  by max in-degree like the reference's per-dst atomicAdd contention.
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import tempfile
import uuid
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from centrality_gpu_spark.graph import Graph

# Vertex-count guard for the dst store: its supersteps broadcast the
# O(V) value vector and the sorted global id map (~16 B/vertex, ~1 GB
# at the guard) to every executor. Above it block_edges picks the
# routed src store.
BROADCAST_VALUES_MAX_VERTICES = 64_000_000

STORE_VERSION = 3
_MANIFEST = "_MANIFEST.json"
# block array name -> .npy file of the v3 layout
_BLOCK_FILES = {
    "src_u": "src_ids",            # sorted unique srcs
    "src_inv": "src_code",         # per edge: code of its src in src_u
    "dst_u": "dst_ids",            # sorted unique dsts
    "dst_indptr": "dst_indptr",    # dst_u[i]'s edges: [indptr[i], indptr[i+1])
    "w": "w",
    "src_inv_deg": "src_inv_deg",  # per unique src: 1 / degree
    "src_inv_wdeg": "src_inv_wdeg",  # per unique src: 1 / Σ weight
}


@dataclass
class BlockedEdges:
    """Handle to an on-disk block store built by ``block_edges``.

    ``hubs`` is a small persisted DF (id) of the salted high-degree
    sources of a ``src`` store (None on a ``dst`` store, which is never
    salted). ``build_id`` names this build of the store: worker caches
    are keyed by it, so a rebuild at the same path never serves the old
    blocks. ``dense`` caches the lazily-built sorted global id map
    (``_dense_map``): None = not built yet, False = none (src store, or
    over the size guard), else (ids ndarray, broadcast).
    """

    spark: SparkSession
    path: str
    n_blocks: int
    partition_by: str
    build_id: str
    hubs: DataFrame | None = None
    n_hubs: int = 0
    dense: object = None
    _hub_ids: object = None  # lazily collected small hub-id list

    def hub_id_list(self) -> list[int]:
        """Hub ids as a driver list (cached). Only called on the small-
        hub routing path (n_hubs bounded), never for arbitrary DFs."""
        if self._hub_ids is None:
            self._hub_ids = [int(r.id) for r in self.hubs.collect()]
        return self._hub_ids

    def unpersist(self) -> None:
        if self.hubs is not None:
            self.hubs.unpersist()


def block_edges(
    graph: Graph,
    n_blocks: int | None = None,
    hub_threshold: int | None = None,
    scratch_dir: str | None = None,
    reuse_existing: bool = False,
    partition_by: str | None = None,
) -> BlockedEdges:
    """Bucket the edge table once into an on-disk block store.

    The buckets are written as the v3 coded ``.npy`` store
    (``_write_coded_blocks``) under ``{scratch_dir}/edges_blocked``;
    supersteps read the blocks mmap'd and OS-page-cache-shared across
    workers and never touch a JVM copy of the edges. ``scratch_dir``
    defaults to a fresh temp dir; on a cluster it must be shared
    storage (HDFS/S3/NFS) or per-node scratch.

    ``partition_by``: ``"dst"`` buckets by destination, so per-block
    output dst sets are DISJOINT and a superstep broadcasts the value
    vector and needs no combine shuffle — the dense-iteration regime
    (PageRank/Katz/eigenvector, every vertex active). ``"src"`` buckets
    by source: values are routed to their block, per-block partials
    overlap on dst and meet in a sparse combine, and sources above
    ``hub_threshold`` are salted across blocks. ``None`` (default)
    picks ``"dst"`` when the vertex count fits
    ``BROADCAST_VALUES_MAX_VERTICES``, else ``"src"``.

    ``reuse_existing``: skip the (expensive) store write when the path
    already holds a current store with the same bucketing, block count
    and hub threshold — valid only when the graph is unchanged (the
    caller's responsibility; use a content-derived path).

    ``n_blocks`` (default: ``spark.sql.shuffle.partitions``) is
    independent of core count: more blocks than cores just means finer
    tasks, and a store built once can serve runs at any parallelism.
    """
    spark = graph.spark
    if n_blocks is None:
        n_blocks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if hub_threshold is None:
        # a vertex is a hub if its edges alone would fill ~1/4 of a block
        hub_threshold = 10_000
    if partition_by is None:
        partition_by = (
            "dst"
            if graph.num_vertices() <= BROADCAST_VALUES_MAX_VERTICES
            else "src"
        )
    if partition_by not in ("src", "dst"):
        raise ValueError(f"partition_by must be 'src' or 'dst', got {partition_by!r}")
    if scratch_dir is None:
        scratch_dir = tempfile.mkdtemp(prefix="cgs_blk_")
    path = os.path.join(scratch_dir, "edges_blocked")

    deg = graph.edges.groupBy("src").agg(
        F.count("*").alias("src_degree"),
        F.sum("weight").alias("src_wdeg"),
    )
    hubs, n_hubs = None, 0
    if partition_by == "dst":
        block = F.pmod(F.xxhash64("dst"), F.lit(n_blocks))
        layout = {"partition_by": "dst", "n_blocks": n_blocks}
    else:
        hubs = (
            deg.where(F.col("src_degree") > hub_threshold)
            .select(F.col("src").alias("id"))
            .persist()
        )
        n_hubs = hubs.count()
        block = F.when(
            F.col("src_degree") > hub_threshold,
            F.pmod(F.xxhash64("src", "dst"), F.lit(n_blocks)),
        ).otherwise(F.pmod(F.xxhash64("src"), F.lit(n_blocks)))
        layout = {"partition_by": "src", "n_blocks": n_blocks,
                  "hub_threshold": hub_threshold}

    manifest = _read_manifest(path) if reuse_existing else None
    if manifest is None or manifest["layout"] != layout:
        blocked_plan = (
            graph.edges.join(deg, "src")
            .select(block.cast("int").alias("block"), "src", "dst", "weight",
                    "src_degree", "src_wdeg")
            .repartition(n_blocks, "block")
        )
        manifest = _write_coded_blocks(blocked_plan, path, layout)
    return BlockedEdges(spark, path, n_blocks, partition_by,
                        manifest["build_id"], hubs, n_hubs)


def _read_manifest(path: str) -> dict | None:
    """The manifest of the current-version store at ``path``, or None
    when there is none (absent, or an older layout — rebuilt, not read)."""
    try:
        with open(os.path.join(path, _MANIFEST)) as f:
            raw = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None
    if isinstance(raw, dict) and raw.get("version") == STORE_VERSION and "build_id" in raw:
        return raw
    return None


def _write_coded_blocks(blocked_df: DataFrame, path: str, layout: dict) -> dict:
    """Materialize each block with PRE-COMPUTED dense codes, so a cold
    cache load is a pure columnar read (no per-worker np.unique sort —
    the counting-sort CSR build, O2, runs exactly once per block here).
    Returns the new manifest.

    Layout (v3): ``{path}/block_N/{src_code,dst_indptr,w,src_inv_deg,
    src_inv_wdeg,src_ids,dst_ids}.npy`` (see ``_BLOCK_FILES``), edges
    sorted by (dst, src). Stored as raw .npy so the read side can
    ``np.load(mmap_mode='r')``: the arrays live in the OS page cache,
    SHARED across every Python worker on the machine — a cache miss in
    one worker process costs an mmap open, not a rebuild, and the data
    is faulted in from disk once per machine, not once per process.
    (On a cluster: node-local scratch per executor, or a shared FS.)

    Written from inside the blocking task; the returned summary rows
    materialize the job.
    """

    def write_block(key, pdf: pd.DataFrame) -> pd.DataFrame:
        block = int(key[0])
        src = pdf["src"].to_numpy()
        dst = pdf["dst"].to_numpy()
        w = pdf["weight"].to_numpy().astype(np.float64)
        deg = pdf["src_degree"].to_numpy().astype(np.float64)
        wdeg = pdf["src_wdeg"].to_numpy().astype(np.float64)
        # edges sorted by (dst, src) so the per-block scatter-add is a
        # SEQUENTIAL segment sum (np.add.reduceat over dst_indptr)
        # instead of a random scatter into a |dst_u|-sized accumulator —
        # the dominant memory-bandwidth term of the SpMV at scale. The
        # counting sort runs once here (O2), never in the hot loop.
        order = np.lexsort((src, dst))
        src, dst, w, deg, wdeg = (
            src[order], dst[order], w[order], deg[order], wdeg[order]
        )
        src_u, src_inv = np.unique(src, return_inverse=True)
        dst_u, dst_idx = np.unique(dst, return_index=True)
        # per-UNIQUE-src degree factors: 1/deg and 1/Σw fold into the
        # O(|src_u|) value lookup instead of O(E) per-edge arrays
        first_src = np.zeros(len(src_u), dtype=np.int64)
        first_src[src_inv] = np.arange(len(src))  # any occurrence works
        arrays = {
            "src_u": src_u.astype(np.int64),
            "src_inv": src_inv.astype(np.int32),
            "dst_u": dst_u.astype(np.int64),
            "dst_indptr": np.append(dst_idx, len(dst)).astype(np.int64),
            "w": w,
            "src_inv_deg": 1.0 / deg[first_src],
            "src_inv_wdeg": 1.0 / wdeg[first_src],
        }
        # unlink the previous build's files first: workers still holding
        # them mmap'd keep reading the old inodes, never a truncated file
        bdir = os.path.join(path, f"block_{block}")
        shutil.rmtree(bdir, ignore_errors=True)
        os.makedirs(bdir)
        for name, arr in arrays.items():
            np.save(os.path.join(bdir, f"{_BLOCK_FILES[name]}.npy"), arr)
        return pd.DataFrame({"block": [block], "n_dst": [len(dst_u)]})

    os.makedirs(path, exist_ok=True)
    # retire the previous build before touching its blocks: from here on
    # a handle to it is refused on a cold cache instead of mixing builds
    if os.path.exists(os.path.join(path, _MANIFEST)):
        os.remove(os.path.join(path, _MANIFEST))
    written = (
        blocked_df.groupBy("block")
        .applyInPandas(write_block, "block int, n_dst long")
        .collect()
    )
    # the manifest distinguishes "block has no edges" from "store is
    # gone": without it, losing the scratch dir would silently produce
    # empty supersteps instead of an error
    manifest = {
        "version": STORE_VERSION,
        "build_id": uuid.uuid4().hex,
        "layout": layout,
        "blocks": sorted(int(r["block"]) for r in written),
        # Σ per-block distinct dsts: the vertex count of a dst store
        "n_dst": sum(int(r["n_dst"]) for r in written),
    }
    tmp = os.path.join(path, f".{_MANIFEST}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, _MANIFEST))
    return manifest


# ---------------------------------------------------------------------------
# Worker-resident CSR block cache (the "device memory" of this engine).
# Keyed by (path, build_id, ...); bounded LRU since Spark does not pin
# blocks to workers across stages.

_CSR_CACHE: "collections.OrderedDict[tuple, object]" = collections.OrderedDict()
_CSR_CACHE_MAX = 64


def _cached(key: tuple, build):
    if key in _CSR_CACHE:
        _CSR_CACHE.move_to_end(key)
        return _CSR_CACHE[key]
    value = _CSR_CACHE[key] = build()
    if len(_CSR_CACHE) > _CSR_CACHE_MAX:
        _CSR_CACHE.popitem(last=False)
    return value


def _load_csr_block(path: str, build_id: str, block: int) -> dict | None:
    """Block ``block`` of build ``build_id`` of the store at ``path`` as
    mmap'd arrays (``_BLOCK_FILES``); None when the block has no edges."""

    def load():
        # the manifest is re-read on every cache miss, so a handle to a
        # replaced build can never load the new build's blocks
        manifest = _read_manifest(path)
        if manifest is None:
            raise FileNotFoundError(
                f"blocked-edge store missing or incomplete at {path} "
                f"({_MANIFEST} not found) — rebuild with block_edges()"
            )
        if manifest["build_id"] != build_id:
            raise RuntimeError(
                f"blocked-edge store at {path} was rebuilt since this "
                "handle was made — use the BlockedEdges returned by the "
                "latest block_edges() call"
            )
        if block not in manifest["blocks"]:
            return None
        bdir = os.path.join(path, f"block_{block}")
        if not os.path.isdir(bdir):
            raise FileNotFoundError(
                f"block {block} listed in manifest but missing at {bdir} — "
                "blocked-edge store lost; rebuild with block_edges()"
            )
        return {
            name: np.load(os.path.join(bdir, f"{fname}.npy"), mmap_mode="r")
            for name, fname in _BLOCK_FILES.items()
        }

    return _cached((path, build_id, block), load)


def _positions(sorted_ids: np.ndarray, keys: np.ndarray):
    """(pos, found): where each key sits in ``sorted_ids`` and whether
    it is actually there (``pos`` is clipped to a valid index)."""
    pos = np.searchsorted(sorted_ids, keys)
    safe = np.minimum(pos, len(sorted_ids) - 1)
    return safe, (pos < len(sorted_ids)) & (sorted_ids[safe] == keys)


def _block_spmv(blk: dict, vals: np.ndarray, pos: np.ndarray, found: np.ndarray,
                weighted: bool, divide_by_src_degree: bool,
                divide_by_src_wdegree: bool) -> np.ndarray:
    """The per-block SpMV kernel every superstep runs.

    ``vals[pos[i]]`` is the value of the block's i-th unique source
    (0 where not ``found``). Returns the block's sums aligned to
    ``blk["dst_u"]``: Σ over in-edges of val(src)·factor, where factor
    is w (``weighted``), 1/deg(src) (``divide_by_src_degree``) or
    w/Σw(src) (``divide_by_src_wdegree``, weighted PageRank).
    """
    lookup = np.where(found, vals[pos], 0.0)
    # degree factors are per unique src: fold them into the O(|src_u|)
    # lookup table, not per edge
    if divide_by_src_wdegree:
        lookup = lookup * blk["src_inv_wdeg"]
    elif divide_by_src_degree:
        lookup = lookup * blk["src_inv_deg"]
    msg = lookup[blk["src_inv"]]
    if weighted or divide_by_src_wdegree:
        msg = msg * blk["w"]
    # edges are sorted by dst: the scatter-add is a sequential segment sum
    return np.add.reduceat(msg, np.asarray(blk["dst_indptr"][:-1]))


def _route_values(blocked: BlockedEdges, values: DataFrame) -> DataFrame:
    """Co-partition the value vector with the src store's blocks.

    Normal vertices go to their single bucket; hub vertices are
    replicated to all buckets (their edges are salted everywhere).
    With no hubs (non-power-law graphs) the routing is a single narrow
    projection — no joins in the per-superstep hot path.
    """
    nb = blocked.n_blocks
    if blocked.n_hubs == 0:
        return values.select(
            F.pmod(F.xxhash64("id"), F.lit(nb)).cast("int").alias("block"),
            "id",
            "val",
        )
    all_blocks = blocked.spark.range(nb).select(
        F.col("id").cast("int").alias("block")
    )
    if blocked.n_hubs <= 1024:
        # hubs are FEW by definition (degree > threshold): inline them
        # as an isin literal — pure codegen filters, no join in the
        # per-superstep hot path (the anti-join+join pair below was
        # measured costing ~40% of a salted PageRank superstep on a
        # single-hub graph, all to route one row)
        hub_ids = blocked.hub_id_list()
        is_hub = F.col("id").isin(hub_ids)
        normal = values.where(~is_hub).select(
            F.pmod(F.xxhash64("id"), F.lit(nb)).cast("int").alias("block"),
            "id",
            "val",
        )
        return normal.unionByName(
            values.where(is_hub)
            .crossJoin(F.broadcast(all_blocks))
            .select("block", "id", "val")
        )
    normal = values.join(blocked.hubs, "id", "left_anti").select(
        F.pmod(F.xxhash64("id"), F.lit(nb)).cast("int").alias("block"),
        "id",
        "val",
    )
    hub_vals = (
        values.join(blocked.hubs, "id").crossJoin(F.broadcast(all_blocks))
        .select("block", "id", "val")
    )
    return normal.unionByName(hub_vals)


# ------------------------------------------------ broadcast (dst) store


def _map_blocks(blocked: BlockedEdges, vec: np.ndarray | None, fn, schema: str):
    """One map-only job over the store's blocks: ``fn(block, blk, vec)``
    returns a pandas frame per non-empty block, with the dense driver
    vector ``vec`` broadcast once. Returns (DataFrame, broadcast)."""
    spark = blocked.spark
    path, build_id, nb = blocked.path, blocked.build_id, blocked.n_blocks
    vec_bc = None if vec is None else spark.sparkContext.broadcast(
        np.ascontiguousarray(vec, dtype=np.float64)
    )
    # one partition per block: one task per block, no shuffle
    blocks_df = spark.range(0, nb, 1, nb).select(
        F.col("id").cast("int").alias("block")
    )

    def run(batches):
        v = None if vec_bc is None else vec_bc.value
        for p in batches:
            for b in p["block"]:
                blk = _load_csr_block(path, build_id, int(b))
                if blk is not None:
                    yield fn(int(b), blk, v)

    return blocks_df.mapInPandas(run, schema), vec_bc


def _dense_map(blocked: BlockedEdges):
    """(ids, broadcast) of a dst store's sorted global id map, built once
    per store per session; None on a src store or over the broadcast
    guard. Blocks own disjoint dst sets and graphs are symmetrized, so
    the blocks' dst ids together are exactly the vertex ids."""
    if blocked.dense is None:
        manifest = _read_manifest(blocked.path)
        if manifest is None:
            raise FileNotFoundError(
                f"blocked-edge store missing at {blocked.path} — rebuild "
                "with block_edges()"
            )
        blocked.dense = False
        if (blocked.partition_by == "dst"
                and manifest["n_dst"] <= BROADCAST_VALUES_MAX_VERTICES):
            rows = _map_blocks(
                blocked, None,
                lambda b, blk, v: pd.DataFrame(
                    {"ids": [np.asarray(blk["dst_u"]).tobytes()]}
                ),
                "ids binary",
            )[0].collect()
            ids = np.sort(np.concatenate(
                [np.frombuffer(r["ids"], dtype=np.int64) for r in rows]
                + [np.zeros(0, dtype=np.int64)]
            ))
            blocked.dense = (ids, blocked.spark.sparkContext.broadcast(ids))
    return blocked.dense or None


def _dense_ready(mode: str, blocked: BlockedEdges | None) -> bool:
    """True when an iterative operator should run its driver-resident
    dense loop (``spmv_dense``): csr mode on a dst store within the
    broadcast guard. The one dispatch PageRank, eigenvector and Katz
    share."""
    return mode == "csr" and blocked is not None and _dense_map(blocked) is not None


def _block_codes(path: str, build_id: str, block: int, blk: dict, ids_bc):
    """(src pos, src found, dst pos) of the block's unique ids in the
    global id map — cached per worker process, so the searchsorted runs
    once per block, not once per superstep."""

    def build():
        ids = ids_bc.value
        pos, found = _positions(ids, np.asarray(blk["src_u"]))
        return pos, found, np.searchsorted(ids, np.asarray(blk["dst_u"]))

    return _cached((path, build_id, block, "codes"), build)


def _require_dense(blocked: BlockedEdges):
    if blocked.partition_by != "dst":
        raise ValueError("the dense superstep requires a dst-partitioned store")
    dense = _dense_map(blocked)
    if dense is None:
        raise ValueError(
            "vertex count exceeds the broadcast-value guard "
            f"({BROADCAST_VALUES_MAX_VERTICES}); rebuild the block store "
            "with partition_by='src' for the routed superstep"
        )
    return dense


def dense_vector_from_df(blocked: BlockedEdges, values: DataFrame,
                         col: str = "val", default: float = 0.0) -> np.ndarray:
    """Align a (id, <col>) DataFrame to the store's sorted global id map."""
    ids, _ = _require_dense(blocked)
    pdf = values.select("id", col).toPandas()
    pos, found = _positions(ids, pdf["id"].to_numpy(dtype="int64"))
    out = np.full(len(ids), default, dtype=np.float64)
    out[pos[found]] = pdf[col].to_numpy(dtype="float64")[found]
    return out


def dense_vector_to_df(blocked: BlockedEdges, vec: np.ndarray,
                       col: str = "rank") -> DataFrame:
    """Materialize a dense driver vector back to a (id, <col>) DataFrame,
    distributed via the store's blocks (each block emits its own dst
    rows) so no single createDataFrame batch holds all V rows."""
    path, build_id = blocked.path, blocked.build_id
    _, ids_bc = _require_dense(blocked)

    def emit(b, blk, v):
        dpos = _block_codes(path, build_id, b, blk, ids_bc)[2]
        return pd.DataFrame({"id": np.asarray(blk["dst_u"]), col: v[dpos]})

    return _map_blocks(blocked, vec, emit, f"id long, {col} double")[0]


def spmv_dense(
    blocked: BlockedEdges,
    vec: np.ndarray,
    weighted: bool = False,
    divide_by_src_degree: bool = False,
    divide_by_src_wdegree: bool = False,
) -> np.ndarray:
    """One superstep over a dst-partitioned store with DRIVER-RESIDENT
    dense vectors: y[i] = Σ_{(u, ids[i])∈E} x[code(u)]·factor.

    ``vec`` is aligned to the sorted global id map (``_dense_map``);
    returns the result in the same alignment. This is the allreduce
    shape of a dense iterative algorithm (PageRank/Katz/eigenvector —
    every vertex active every iteration): per superstep exactly ONE
    map-only Spark job, one O(V)·8B broadcast out, one O(V)·12B collect
    back (int32 positions + float64 partials, dst-disjoint across
    blocks). The edges never move — they stay in the worker-resident
    mmap CSR blocks — and the O(V) vector transits the driver, which is
    the same ceiling the broadcast guard already imposes
    (BROADCAST_VALUES_MAX_VERTICES). The reference keeps exactly this
    split: CSR resident on the device, the value/result vectors crossing
    host↔device once per phase (``kernels_free.cu:43-85``).
    """
    ids, ids_bc = _require_dense(blocked)
    if len(vec) != len(ids):
        raise ValueError(f"vec length {len(vec)} != id map length {len(ids)}")
    path, build_id = blocked.path, blocked.build_id
    flags = (weighted, divide_by_src_degree, divide_by_src_wdegree)

    def kern(b, blk, v):
        pos, found, dpos = _block_codes(path, build_id, b, blk, ids_bc)
        partial = _block_spmv(blk, v, pos, found, *flags)
        return pd.DataFrame({
            "pos": [dpos.astype(np.int32).tobytes()],
            "vals": [partial.astype(np.float64).tobytes()],
        })

    df, vec_bc = _map_blocks(blocked, vec, kern, "pos binary, vals binary")
    out = np.zeros(len(ids))
    for r in df.collect():
        # blocks own disjoint dst sets → plain assignment is the combine
        out[np.frombuffer(r["pos"], dtype=np.int32)] = np.frombuffer(
            r["vals"], dtype=np.float64
        )
    vec_bc.destroy()
    return out


def spmv(
    blocked: BlockedEdges,
    values: DataFrame,
    weighted: bool = True,
    divide_by_src_degree: bool = False,
    divide_by_src_wdegree: bool = False,
) -> DataFrame:
    """y = Aᵀ·x over the block store.

    ``values``: DF (id:long, val:double). Returns (id:long, msg:double)
    where msg(v) = Σ_{(u,v)∈E} val(u)·weight(u,v) (weight ≡ 1 when
    ``weighted=False``, e.g. PageRank). Only the value vector moves;
    the edges stay in the worker-resident blocks.

    On a ``dst`` store the values are aligned to the global id map on
    the driver and broadcast; each block emits the final sums of its
    own disjoint dst set — one map-only job, every vertex with an
    in-edge present (dense clients skip their vertex join). On a ``src``
    store the values are routed to their blocks (hubs replicated), and
    the per-block partials meet in a hash aggregate; vertices receiving
    nothing are absent (caller joins/coalesces as needed).
    """
    flags = (weighted, divide_by_src_degree, divide_by_src_wdegree)
    path, build_id = blocked.path, blocked.build_id
    if blocked.partition_by == "dst":
        _, ids_bc = _require_dense(blocked)
        vec = dense_vector_from_df(blocked, values)

        def broadcast_kernel(b, blk, v):
            pos, found, _ = _block_codes(path, build_id, b, blk, ids_bc)
            return pd.DataFrame({"id": np.asarray(blk["dst_u"]),
                                 "msg": _block_spmv(blk, v, pos, found, *flags)})

        return _map_blocks(blocked, vec, broadcast_kernel, "id long, msg double")[0]

    def routed_kernel(key, val_pdf):
        blk = _load_csr_block(path, build_id, int(key[0]))
        if blk is None or len(val_pdf) == 0:
            return pd.DataFrame({"id": pd.Series([], dtype="int64"),
                                 "partial": pd.Series([], dtype="float64")})
        vid = val_pdf["id"].to_numpy()
        order = np.argsort(vid)
        pos, found = _positions(vid[order], np.asarray(blk["src_u"]))
        vals = val_pdf["val"].to_numpy(dtype="float64")[order]
        partial = _block_spmv(blk, vals, pos, found, *flags)
        nz = partial != 0.0
        return pd.DataFrame({"id": np.asarray(blk["dst_u"])[nz],
                             "partial": partial[nz]})

    return (
        _route_values(blocked, values)
        .groupBy("block")
        .applyInPandas(routed_kernel, "id long, partial double")
        .groupBy("id")
        .agg(F.sum("partial").alias("msg"))
    )


def spmv_sql(
    graph: Graph,
    values: DataFrame,
    weighted: bool = True,
    divide_by_src_degree: bool = False,
    divide_by_src_wdegree: bool = False,
) -> DataFrame:
    """Reference SQL-mode SpMV (pure DataFrame join+agg) for testing the
    CSR path against — Catalyst/Tungsten, no Python. Same contract.
    Uses the src-partitioned persisted edge copy so repeated calls
    (iterative algorithms) never re-shuffle the edge side; the hash
    aggregate does map-side partial sums before the exchange."""
    e = graph.edges_by_src()
    w = F.col("weight") if weighted else F.lit(1.0)
    if divide_by_src_degree:
        w = w * F.col("src_inv_deg")
    if divide_by_src_wdegree:
        w = w * F.col("src_inv_wdeg")
    return (
        e.join(values, e.src == values.id)
        .select("dst", (F.col("val") * w).alias("m"))
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum("m").alias("msg"))
    )
