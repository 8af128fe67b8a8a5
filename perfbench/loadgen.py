"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(seed, size)``. Files are written
once under ``<work>/data/<kind>-s<seed>-<size>/`` and reused by later
runs with the same seed, so generation never counts toward a run's
set-up time. The engine only ever sees the generated files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from centrality_gpu_spark.datagen import generate_transcripts

# Workload sizes. "full" is what the benchmark measures; "tiny" keeps
# the smoke tests short and exercises the same code paths.
SIZES = {
    "full": {
        "base_convs": 400, "batch_convs": 20, "batches": 8, "tools": 40,
        "max_turns": 40, "copurchase_parts": 2000,
        "copurchase_orders": 5000, "bc_sources": 32,
    },
    "tiny": {
        "base_convs": 40, "batch_convs": 6, "batches": 6, "tools": 8,
        "max_turns": 12, "copurchase_parts": 120,
        "copurchase_orders": 200, "bc_sources": 8,
    },
}

# share of the previous batch's conversations replayed into the next
# batch file (at-least-once delivery upstream)
REPLAY_FRACTION = 0.25


def _fresh(path: str) -> bool:
    """True when ``path`` is already complete (a ``_DONE`` marker)."""
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark_done(path: str) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        f.write("ok\n")


def _conv_index(conv_id: pd.Series) -> np.ndarray:
    return conv_id.str.slice(5).astype(np.int64).to_numpy()


def transcripts_inputs(spark, data: str, seed: int, size: str) -> dict:
    """The transcripts table and the numbered stream batches.

    One table of ``base + batches × batch`` conversations is generated
    with ``datagen.generate_transcripts`` and split by conversation
    index. ``base`` holds the first ``base`` conversations. Stream batch
    k holds the next ``batch`` conversations plus every turn of the
    first ``REPLAY_FRACTION`` of batch k-1's conversations (batch 0
    replays the base's tail): at-least-once delivery upstream.
    Conversation indices, and with them turn timestamps, grow from batch
    to batch, as a live stream's would.
    """
    sz = SIZES[size]
    out = os.path.join(data, f"transcripts-s{seed}-{size}")
    paths = {
        "base": os.path.join(out, "base"),
        "batches": [
            os.path.join(out, "batches", f"batch-{k:03d}.parquet")
            for k in range(sz["batches"])
        ],
    }
    if _fresh(out):
        return paths
    shutil.rmtree(out, ignore_errors=True)
    n_base, n_b = sz["base_convs"], sz["batch_convs"]
    full = generate_transcripts(
        spark, n_conversations=n_base + sz["batches"] * n_b,
        n_tools=sz["tools"], max_turns=sz["max_turns"], seed=seed,
        embed_samples=False,
    ).toPandas()
    full = full.sort_values(["conv_id", "turn_idx"], kind="stable")
    ci = _conv_index(full["conv_id"])
    schema = pa.Schema.from_pandas(full, preserve_index=False)

    def write(df: pd.DataFrame, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        # microsecond timestamps: Spark cannot read parquet TIMESTAMP(NANOS)
        pq.write_table(
            pa.Table.from_pandas(df, schema=schema, preserve_index=False),
            path, coerce_timestamps="us",
        )

    write(full[ci < n_base], os.path.join(paths["base"], "part-000.parquet"))
    n_replay = max(1, int(n_b * REPLAY_FRACTION))
    prev_lo = n_base - n_b
    for k, path in enumerate(paths["batches"]):
        lo = n_base + k * n_b
        new = full[(ci >= lo) & (ci < lo + n_b)]
        replay = full[(ci >= prev_lo) & (ci < prev_lo + n_replay)]
        write(pd.concat([replay, new]), path)
        prev_lo = lo
    _mark_done(out)
    return paths


def copurchase_lineitem(data: str, seed: int, size: str) -> str:
    """A TPC-H-shaped ``lineitem`` (``l_orderkey``, ``l_partkey``):
    orders of 1-7 lines, parts drawn uniformly. Returns the directory
    ``copurchase_graph`` reads ``lineitem.parquet`` from."""
    sz = SIZES[size]
    out = os.path.join(data, f"copurchase-s{seed}-{size}")
    if not _fresh(out):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        rng = np.random.default_rng([seed, 7])
        lines = rng.integers(1, 8, size=sz["copurchase_orders"])
        orderkey = np.repeat(
            np.arange(1, sz["copurchase_orders"] + 1, dtype=np.int64), lines
        )
        partkey = rng.integers(
            1, sz["copurchase_parts"] + 1, size=len(orderkey), dtype=np.int64
        )
        pq.write_table(
            pa.table({"l_orderkey": orderkey, "l_partkey": partkey}),
            os.path.join(out, "lineitem.parquet"),
        )
        _mark_done(out)
    return out


def betweenness_sources(vertex_ids: np.ndarray, seed: int, k: int) -> list[int]:
    """``k`` distinct source vertices drawn from the seed."""
    rng = np.random.default_rng([seed, 11])
    ids = np.sort(np.asarray(vertex_ids))
    pick = rng.choice(len(ids), size=min(k, len(ids)), replace=False)
    return sorted(int(v) for v in ids[pick])
