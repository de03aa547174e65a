"""Independent pandas/numpy reference for every value the benchmark checks.

Computed only from the generated Arrow tables, never through Spark, so a
wrong engine answer cannot also be the expected one. Semantics follow the
engine's documented contracts:

* ``prior_role``  lag(role, 1) per conversation in (turn_idx, ts) order
* ``prior_tool``  last non-null tool strictly before the row (ffill_strict)
* ``gap_secs``    (ts - previous ts) in seconds, NULL on the first turn
* ``session_id``  running count of gaps above the threshold (0-based)
* ``recent_turns`` turns in the event-time window [t - 3600 s, t - 1 s]
* ``turn_len``    character length of the text (registry ``char_len``)
* ``tool_tag``    jq ``if . == null then "none" else ascii_upcase end``
* ``asof_value``  strict-prior backward as-of on the DataFrame store, ties
  on value_at_ts broken by the larger value
* ``store_value`` strict-prior read-through of the FeatureStore, ties broken
  by (calculated_ts, value)
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa

GAP_THRESHOLD_S = 1800.0
ROLLING_S = 3600
JQ_TOOL_TAG = 'if . == null then "none" else ascii_upcase end'

TRAIN_COLUMNS = [
    "conv_id", "turn_idx", "ts", "prior_role", "prior_tool", "gap_secs", "session_id",
    "recent_turns", "turn_len", "tool_tag", "asof_value", "store_value",
]


def _us(col: pa.ChunkedArray) -> np.ndarray:
    return col.cast(pa.int64()).to_numpy()


def spine_frame(tr: pa.Table) -> pd.DataFrame:
    """The transcript table as pandas, ts as epoch microseconds, in
    (conv_id, turn_idx) order."""
    df = pd.DataFrame(
        {
            "conv_id": tr.column("conv_id").to_numpy(zero_copy_only=False),
            "turn_idx": tr.column("turn_idx").to_numpy(),
            "role": tr.column("role").to_numpy(zero_copy_only=False),
            "tool": tr.column("tool").to_numpy(zero_copy_only=False),
            "text": tr.column("text").to_numpy(zero_copy_only=False),
            "ts": _us(tr.column("ts")),
        }
    )
    df = df.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
    df["conv_ord"] = df["conv_id"].str.slice(5).astype(np.int64)
    return df


def session_ids(sp: pd.DataFrame, gap_threshold_s: float) -> np.ndarray:
    gap = _gap_secs(sp)
    boundary = (gap > gap_threshold_s).astype(np.int64)  # NaN > x is False
    return boundary.groupby(sp["conv_id"].to_numpy()).cumsum().to_numpy()


def _gap_secs(sp: pd.DataFrame) -> pd.Series:
    prev = sp.groupby("conv_id", sort=False)["ts"].shift(1)
    return (sp["ts"] - prev) / 1000000.0


def _rolling_count(sp: pd.DataFrame, window_s: int) -> np.ndarray:
    es = np.floor_divide(sp["ts"].to_numpy(), 1_000_000)
    key = sp["conv_ord"].to_numpy() * (1 << 40) + es
    # rows are conv-major and ts is non-decreasing within a conversation,
    # so ``key`` is sorted and each frame is one searchsorted range
    hi = np.searchsorted(key, key - 1, side="right")
    lo = np.searchsorted(key, key - window_s, side="left")
    return (hi - lo).astype(np.int64)


def asof_backward(
    left: pd.DataFrame, right: pd.DataFrame, *, value: str, tie: list[str], strict: bool
) -> np.ndarray:
    """Latest right ``value`` per left row with value_at_ts before (strict)
    or at-or-before ts, same conv_id; equal value_at_ts resolved by the
    largest ``tie`` tuple. ``left`` needs conv_id, ts; ``right`` conv_id,
    value_at_ts, tie columns and ``value``. Aligned to ``left``'s rows."""
    r = right.sort_values(["conv_id", "value_at_ts", *tie], kind="stable")
    r = r.drop_duplicates(["conv_id", "value_at_ts"], keep="last")
    r = r[["conv_id", "value_at_ts", value]].sort_values("value_at_ts", kind="stable")
    r = r.rename(columns={value: "__v"})
    lf = pd.DataFrame(
        {"__row": np.arange(len(left)), "conv_id": left["conv_id"].to_numpy(),
         "ts": left["ts"].to_numpy()}
    ).sort_values("ts", kind="stable")
    m = pd.merge_asof(
        lf, r, left_on="ts", right_on="value_at_ts", by="conv_id",
        allow_exact_matches=not strict, direction="backward",
    )
    out = np.empty(len(left), dtype=object)
    vals = m["__v"].to_numpy(dtype=object)
    out[m["__row"].to_numpy()] = np.where(pd.isna(vals), None, vals)
    return out


def store_frame(t: pa.Table) -> pd.DataFrame:
    df = pd.DataFrame(
        {
            "conv_id": t.column("conv_id").to_numpy(zero_copy_only=False),
            "value": t.column("value").to_numpy(zero_copy_only=False),
            "value_at_ts": _us(t.column("value_at_ts")),
        }
    )
    if "calculated_ts" in t.column_names:
        df["calculated_ts"] = _us(t.column("calculated_ts"))
    return df


def train_reference(tables: dict[str, pa.Table]) -> pd.DataFrame:
    """Every TRAIN_COLUMNS value for every spine row."""
    sp = spine_frame(tables["transcripts"])
    g = sp.groupby("conv_id", sort=False)
    out = sp[["conv_id", "turn_idx", "ts", "conv_ord"]].copy()
    out["prior_role"] = g["role"].shift(1).to_numpy(dtype=object)
    lag_tool = g["tool"].shift(1)
    out["prior_tool"] = lag_tool.groupby(sp["conv_id"].to_numpy()).ffill().to_numpy(dtype=object)
    out["gap_secs"] = _gap_secs(sp).to_numpy()
    out["session_id"] = session_ids(sp, GAP_THRESHOLD_S)
    out["recent_turns"] = _rolling_count(sp, ROLLING_S)
    out["turn_len"] = sp["text"].str.len().to_numpy()
    tool = sp["tool"]
    out["tool_tag"] = np.where(tool.isna(), "none", tool.fillna("").str.upper()).astype(object)
    out["asof_value"] = asof_backward(
        sp, store_frame(tables["asof_store"]), value="value", tie=["value"], strict=True
    )
    out["store_value"] = asof_backward(
        sp, store_frame(tables["feature_store"]), value="value",
        tie=["calculated_ts", "value"], strict=True,
    )
    return out


# ----------------------------------------------------------------- checks


def _equal(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Elementwise equality where NULL equals NULL; numbers compare by value
    (an engine int column holding NULLs arrives as float)."""
    a, b = a.astype(object), b.astype(object)
    na, nb = pd.isna(a).to_numpy(), pd.isna(b).to_numpy()
    return (na & nb) | (~na & ~nb & (a == b).to_numpy(dtype=bool))


def compare(out: pd.DataFrame, ref: pd.DataFrame, key: list[str], cols: list[str]) -> list[str]:
    """Rows of ``out`` that differ from ``ref`` on any of ``cols``, matched
    on ``key``; missing and extra rows count too. Returns one message per
    bad row (at most the first few are kept by callers)."""
    problems: list[str] = []
    if out[key].duplicated().any():
        problems.append(f"duplicate keys in output: {int(out[key].duplicated().sum())}")
    m = ref[key + cols].merge(
        out[key + cols], on=key, how="outer", suffixes=("_ref", "_out"), indicator=True
    )
    missing = m["_merge"] != "both"
    for _, row in m[missing].head(5).iterrows():
        problems.append(f"row {tuple(row[k] for k in key)} only in {row['_merge']}")
    if missing.any():
        problems.append(f"{int(missing.sum())} rows missing or extra")
    both = m[~missing]
    bad = np.zeros(len(both), dtype=bool)
    col_bad = {}
    for c in cols:
        col_bad[c] = ~_equal(both[f"{c}_out"], both[f"{c}_ref"])
        bad |= col_bad[c]
    for i in np.flatnonzero(bad)[:5]:
        row = both.iloc[i]
        diffs = {c: (row[f"{c}_out"], row[f"{c}_ref"]) for c in cols if col_bad[c][i]}
        problems.append(f"row {tuple(row[k] for k in key)}: (out, ref) {diffs}")
    if bad.any():
        problems.append(f"{int(bad.sum())} rows differ from the reference")
    return problems


def leakage_rows(out: pd.DataFrame, col: str, store: pd.DataFrame) -> int:
    """Output rows whose ``col`` value exists in the store for that
    conversation only at or after the row's ts: a value from the future."""
    hit = out.loc[out[col].notna(), ["conv_id", "ts", col]].reset_index()
    if hit.empty:
        return 0
    m = hit.merge(
        store[["conv_id", "value", "value_at_ts"]],
        left_on=["conv_id", col], right_on=["conv_id", "value"], how="left",
    )
    earliest = m.groupby("index")["value_at_ts"].min()
    ts = hit.set_index("index")["ts"]
    return int((earliest.reindex(ts.index).isna() | (earliest.reindex(ts.index) >= ts)).sum())


# ------------------------------------------------------------ store model


def value_json(v: np.ndarray) -> np.ndarray:
    """``FeatureStore.publish`` serialization of an integer value."""
    return np.array([f'{{"v":{int(x)}}}' for x in v], dtype=object)


@dataclass
class StoreModel:
    """What a FeatureStore holds after a sequence of publishes: every row
    ever appended (conv_id, value_at_ts, value JSON, calculated_ts)."""

    rows: list[pd.DataFrame] = field(default_factory=list)

    def publish(self, conv_id, value_at_ts, values, calculated_us: int) -> None:
        self.rows.append(
            pd.DataFrame(
                {
                    "conv_id": np.asarray(conv_id, dtype=object),
                    "value_at_ts": np.asarray(value_at_ts, dtype=np.int64),
                    "value": value_json(np.asarray(values)),
                    "calculated_ts": np.full(len(conv_id), calculated_us, dtype=np.int64),
                }
            )
        )

    def frame(self) -> pd.DataFrame:
        return pd.concat(self.rows, ignore_index=True)

    def live_points(self) -> int:
        return int(self.frame()[["conv_id", "value_at_ts"]].drop_duplicates().shape[0])

    def read_through(self, spine: pd.DataFrame, knowledge_us: int | None = None) -> np.ndarray:
        """Parsed integer value per spine row (NaN where nothing is visible):
        at-or-before as-of, ties by (calculated_ts, value), optionally only
        values calculated by ``knowledge_us``."""
        st = self.frame()
        if knowledge_us is not None:
            st = st[st["calculated_ts"] <= knowledge_us]
        vals = asof_backward(
            spine, st, value="value", tie=["calculated_ts", "value"], strict=False
        )
        return np.array(
            [np.nan if v is None else float(v[5:-1]) for v in vals], dtype=np.float64
        )


def store_checksum(spine: pd.DataFrame, v: np.ndarray) -> dict[str, int]:
    """Order-independent sums over (spine row, read value); the engine side
    computes the same sums in ``store_cycle``."""
    have = ~np.isnan(v)
    vi = np.where(have, v, 0).astype(np.int64)
    return {
        "rows": int(len(spine)),
        "hits": int(have.sum()),
        "sum_v": int(vi.sum()),
        "sum_v_turn": int((vi * (spine["turn_idx"].to_numpy().astype(np.int64) + 1)).sum()),
        "sum_v_conv": int((vi * spine["conv_ord"].to_numpy()).sum()),
    }
