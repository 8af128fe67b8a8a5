"""Deterministic synthetic transcript generator (FIXTURES.md §1/§6).

Schema (BASELINE.json input_hint): ``transcripts(conv_id:string,
turn_idx:int32, role:string, text:string, tool:string, ts:timestamp)``.

Everything is a pure function of (seed, conv_id): each conversation's
RNG is ``np.random.default_rng([seed, conv_index])``, so output is
identical regardless of partitioning or cluster size — the property
that makes the per-turn text-equality invariant testable and the bench
reproducible. Generation runs distributed (``spark.range`` over
conversations → ``mapInPandas``), so the bench tier (~200k convs) never
bottlenecks on the driver.

Tool popularity is Zipf-distributed — the power-law hub fan-in the
north rule's skew handling is tested against.

``embed_samples=True`` appends conversations encoding the four
reference sample graphs: sample vertex u → conversation ``g{name}_v{u}``,
sample edge (u,v) → tool ``g{name}_e{u}_{v}`` invoked by both endpoint
conversations. The co-invocation projection (sources/transcripts.py)
then reproduces each sample graph *exactly*, so the reference BC
goldens carry over to the full transcripts→edges→BC pipeline.
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from centrality_gpu_spark.sources.reference_samples import SAMPLE_EDGES

BASE_EPOCH = int(datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp())
ROLES = ("user", "assistant", "tool")
_FILLER = (
    "plan spark shuffle join graph edge vertex rank batch frontier tool "
    "agent turn reply trace span token stream block salt skew check point"
).split()

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)

SAMPLE_NAMES = ("test1", "test2", "test3", "test4")


def _conv_batch(seed: int, conv_indices, n_tools: int,
                min_turns: int, max_turns: int) -> pd.DataFrame:
    """All turns of a batch of conversations, as one pandas frame.

    Still one rng per conversation keyed ``[seed, conv_index]`` (the
    partitioning-independence invariant), but each conversation draws
    VECTORS (turn count, tool flags, tool picks, filler words) instead
    of per-turn scalars, and the text/ts columns are assembled with
    pandas str/vector ops — the per-turn Python loop was the dominant
    cost of the end-to-end transcripts bench (q9).
    """
    # Zipf tool popularity: tool_00 is the hub. Inverse-CDF sampling
    # (searchsorted on the precomputed cumsum) instead of rng.choice(p=)
    # — choice re-normalizes and cumsums the weights on every call.
    zipf_w = 1.0 / np.arange(1, n_tools + 1)
    zipf_cdf = np.cumsum(zipf_w / zipf_w.sum())
    filler_arr = np.array(_FILLER)
    tool_names = np.array([f"tool_{k:03d}" for k in range(n_tools)], dtype=object)

    cid_parts, turn_parts, role_parts, tool_parts, ts_parts, fill_parts = (
        [], [], [], [], [], []
    )
    for ci in conv_indices:
        ci = int(ci)
        rng = np.random.default_rng([seed, ci])
        n_turns = int(rng.integers(min_turns, max_turns + 1))
        t = np.arange(n_turns)
        odd = np.flatnonzero(t % 2 == 1)
        is_tool = rng.random(len(odd)) < 0.35
        tool_pick = np.searchsorted(zipf_cdf, rng.random(len(odd)))
        fill_idx = rng.integers(0, len(filler_arr), size=(n_turns, 6))

        role = np.full(n_turns, "user", dtype=object)
        role[odd] = "assistant"
        role[odd[is_tool]] = "tool"
        tool = np.full(n_turns, None, dtype=object)
        tool[odd[is_tool]] = tool_names[tool_pick[is_tool]]

        cid_parts.append(np.full(n_turns, f"conv_{ci:06d}", dtype=object))
        turn_parts.append(t)
        role_parts.append(role)
        tool_parts.append(tool)
        ts_parts.append(BASE_EPOCH + ci * 1000 + t)
        fill_parts.append(fill_idx)

    cid = pd.Series(np.concatenate(cid_parts))
    turn = np.concatenate(turn_parts)
    role = pd.Series(np.concatenate(role_parts))
    fill = np.concatenate(fill_parts)
    words = filler_arr[fill]
    filler = pd.Series(
        [" ".join(w) for w in words]  # 6 short words; the only row loop left
    )
    text = cid + ":" + pd.Series(turn).astype(str) + ":" + role + " " + filler
    return pd.DataFrame(
        {
            "conv_id": cid,
            "turn_idx": turn.astype("int32"),
            "role": role,
            "text": text,
            "tool": pd.Series(np.concatenate(tool_parts)),
            "ts": pd.to_datetime(np.concatenate(ts_parts), unit="s", utc=True),
        }
    )


def _sample_rows() -> list[tuple]:
    """Conversations embedding the four reference sample graphs."""
    rows = []
    for gi, name in enumerate(SAMPLE_NAMES):
        edges = SAMPLE_EDGES[gi + 1]
        # per sample vertex: one conversation listing its incident edge-tools
        incident: dict[int, list[str]] = {}
        for u, v in edges:
            tool = f"g{name}_e{u}_{v}"
            incident.setdefault(u, []).append(tool)
            incident.setdefault(v, []).append(tool)
        for u, tools in sorted(incident.items()):
            conv_id = f"g{name}_v{u}"
            t = 0
            for tool in tools:
                ts0 = BASE_EPOCH + 500_000_000 + gi * 1_000_000 + u * 1000
                rows.append((conv_id, t, "user", f"{conv_id}:{t}:user invoke",
                             None, datetime.fromtimestamp(ts0 + t, tz=timezone.utc)))
                t += 1
                rows.append((conv_id, t, "tool", f"{conv_id}:{t}:tool {tool}",
                             tool, datetime.fromtimestamp(ts0 + t, tz=timezone.utc)))
                t += 1
    return rows


def generate_transcripts(
    spark: SparkSession,
    n_conversations: int = 50,
    n_tools: int = 8,
    min_turns: int = 4,
    max_turns: int = 12,
    seed: int = 42,
    embed_samples: bool = True,
    out_path: str | None = None,
) -> DataFrame:
    """Distributed deterministic generation; optionally write parquet."""
    conv_ids = spark.range(n_conversations)

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                yield _conv_batch(seed, pdf["id"].to_numpy(), n_tools,
                                  min_turns, max_turns)

    df = conv_ids.mapInPandas(gen, TRANSCRIPT_SCHEMA)
    if embed_samples:
        sample_df = spark.createDataFrame(_sample_rows(), TRANSCRIPT_SCHEMA)
        df = df.unionByName(sample_df)
    if out_path:
        df.write.mode("overwrite").parquet(out_path)
        return spark.read.parquet(out_path)
    return df
