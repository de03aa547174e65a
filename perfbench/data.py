"""Seeded benchmark inputs, generated once per (seed, scale) and cached.

Everything the engine sees is parquet written here with pyarrow: the
transcript spine (conv-contiguous files with small row groups, so an entity
lookup can skip most of the scan), the DataFrame as-of store, and a
``FeatureStore``-layout table for the read-through feature. Generation time
is not part of any metric: users never pay it.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from funcify_feature_eng_spark.datagen import gen_feature_store, gen_transcripts
from funcify_feature_eng_spark.store import contextual_params_hash

# feature_id of the FeatureStore-backed feature (train_pit, online_lookup)
STORE_FEATURE = "store_value"


@dataclass(frozen=True)
class Scale:
    n_convs: int  # Zipf-sized conversations
    max_turns: int  # cap on a Zipf conversation's length
    hot_turns: int  # one extra conversation of this many turns
    n_files: int  # conv-contiguous transcript files
    row_group: int  # parquet row-group size of the transcript files


SCALES = {
    # ~63k turns; the cap keeps the spine size within a few percent across
    # seeds, so a seed changes the data but hardly the work
    "full": Scale(n_convs=1000, max_turns=150, hot_turns=1000, n_files=8, row_group=4096),
    "tiny": Scale(n_convs=40, max_turns=150, hot_turns=120, n_files=2, row_group=256),
}


@dataclass
class Inputs:
    transcripts: str  # directory of parquet parts
    asof_store: str  # parquet file: conv_id, value, value_at_ts, ...
    feature_store: str  # directory in FeatureStore layout
    hot_conv: str


def _conv_cuts(conv: np.ndarray, n_files: int) -> list[int]:
    bounds = np.flatnonzero(conv[1:] != conv[:-1]) + 1
    inner = sorted({int(bounds[int(i * len(bounds) / n_files)]) for i in range(1, n_files)})
    return [0, *inner, len(conv)]


def _feature_store_rows(tr: pa.Table, seed: int) -> pa.Table:
    """Tracked values for the read-through feature: a second sparse store
    whose knowledge stamps trail the event times by up to two hours."""
    fs = gen_feature_store(tr, seed=seed + 11, coverage=0.5)
    rng = np.random.default_rng(seed + 13)
    at = fs.column("value_at_ts").to_numpy()
    lag = (rng.integers(0, 7200, len(at)) * 1_000_000).astype("timedelta64[us]")
    n = fs.num_rows
    return pa.table(
        {
            "feature_id": pa.array([STORE_FEATURE] * n, pa.string()),
            "conv_id": fs.column("conv_id"),
            "params_hash": pa.array([contextual_params_hash(None)] * n, pa.string()),
            "value": fs.column("value"),
            "value_at_ts": fs.column("value_at_ts"),
            "calculated_ts": pa.array(at + lag, pa.timestamp("us")),
        }
    )


def ensure_inputs(cache_root: str, seed: int, scale: str) -> Inputs:
    """Write the inputs for ``seed`` under ``cache_root`` unless present."""
    sc = SCALES[scale]
    root = os.path.join(
        cache_root,
        f"{scale}-{sc.n_convs}-{sc.max_turns}-{sc.hot_turns}-{sc.n_files}-{sc.row_group}"
        f"-seed{seed}",
    )
    inputs = Inputs(
        transcripts=os.path.join(root, "transcripts"),
        asof_store=os.path.join(root, "asof_store.parquet"),
        feature_store=os.path.join(root, "feature_store"),
        hot_conv=f"conv_{sc.n_convs:08d}",
    )
    if os.path.exists(os.path.join(root, ".done")):
        return inputs
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(inputs.transcripts)
    os.makedirs(inputs.feature_store)
    tr = gen_transcripts(n_convs=sc.n_convs, seed=seed, max_turns=sc.max_turns,
                         hot_conv_turns=sc.hot_turns)
    cuts = _conv_cuts(tr.column("conv_id").to_numpy(zero_copy_only=False), sc.n_files)
    for i, (lo, hi) in enumerate(zip(cuts[:-1], cuts[1:])):
        pq.write_table(
            tr.slice(lo, hi - lo),
            os.path.join(inputs.transcripts, f"part-{i:03d}.parquet"),
            row_group_size=sc.row_group,
        )
    pq.write_table(gen_feature_store(tr, seed=seed), inputs.asof_store)
    pq.write_table(
        _feature_store_rows(tr, seed), os.path.join(inputs.feature_store, "part-0.parquet")
    )
    with open(os.path.join(root, ".done"), "w") as f:
        f.write("ok\n")
    return inputs


def load_tables(inputs: Inputs) -> dict[str, pa.Table]:
    """The generated Arrow tables, read back for the pandas reference."""
    return {
        "transcripts": pq.read_table(inputs.transcripts),
        "asof_store": pq.read_table(inputs.asof_store),
        "feature_store": pq.read_table(inputs.feature_store),
    }
