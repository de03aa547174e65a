"""The three benchmark workloads. Each drives only public entry points of
``funcify_feature_eng_spark`` and checks every answer against the pandas
reference in ``reference.py``.

A workload object is built once per run and then:

* ``setup(ctx)``   input registration and warm-up on a fresh session
  (repeated, each time on a restarted session, to measure set-up time),
* ``verify(ctx)``  the full one-off check after warm-up (None: nothing to check),
* ``op(ctx, i)``   one timed operation, checked afterwards,
* ``finish(ctx)``  work that ends the run (store compaction) and its checks
  (None: nothing to do),
* ``diagnose(ctx)`` traced runs only: per-layer probes,
* ``summary(ops)`` the workload's own figures, printed by name,
* ``inject_fault()`` for ``--fault``: wrong answers the checks must catch.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from funcify_feature_eng_spark.functions.jq_compile import compile_jq
from funcify_feature_eng_spark.functions.registry import default_registry
from funcify_feature_eng_spark.operators.asof import asof_join, choose_asof_strategy
from funcify_feature_eng_spark.plans.graphql import (
    lower_graphql,
    materialize_graphql,
    validate_request,
)
from funcify_feature_eng_spark.plans.model import FeatureModel
from funcify_feature_eng_spark.sources.tables import read_table
from funcify_feature_eng_spark.store import FeatureStore

from data import STORE_FEATURE
import reference as R
from obs import p90


def _conv_order():
    return Window.partitionBy("conv_id").orderBy("turn_idx")


@dataclass
class OpResult:
    seconds: float  # wall time
    cpu_s: float  # CPU time of this process and the Spark JVM tree
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)  # per-op layer figures


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000.0


def _ts_us(s: pd.Series) -> np.ndarray:
    return s.astype("datetime64[us]").astype(np.int64).to_numpy()


def build_model(ctx) -> FeatureModel:
    """The feature model shared by ``train_pit`` and ``online_lookup``: five
    window features, a registry transformer, a jq-compiled transformer, an
    as-of feature on a DataFrame store (strategy ``auto``) and a read-through
    feature on a FeatureStore."""
    inp = ctx.inputs
    with ctx.tracer.span("sources.tables"):
        asof_store = read_table(ctx.spark, inp.asof_store)
    with ctx.tracer.span("functions"):
        t0 = time.perf_counter()
        tag = compile_jq(R.JQ_TOOL_TAG, input_type="string", output_type="string")
        ctx.layer("functions.jq_compile_ms", _ms(t0))
        registry = default_registry()
        registry.register("tool_tag_jq", tag, arg_types={"input": "string"})
    with ctx.tracer.span("plans.model"):
        m = FeatureModel(entity_key="conv_id", order=("turn_idx", "ts"), event_time="ts",
                         registry=registry)
        m.declare_window_feature("prior_role", op="lag", col="role")
        m.declare_window_feature("prior_tool", op="ffill_strict", col="tool")
        m.declare_window_feature("gap_secs", op="gap")
        m.declare_window_feature("session_id", op="session", gap_threshold_s=R.GAP_THRESHOLD_S)
        m.declare_window_feature("recent_turns", op="rolling_count", col="role",
                                 window_s=R.ROLLING_S)
        m.declare_transformer_feature("turn_len", "char_len", args=["text"])
        m.declare_transformer_feature("tool_tag", "tool_tag_jq", args=["tool"])
        m.register_store("asof_store", asof_store, last_updated="value_at_ts")
        m.declare_asof_feature("asof_value", store="asof_store", allow_exact_matches=False,
                               right_order=["value"], strategy="auto")
        with ctx.tracer.span("store"):
            fstore = FeatureStore(ctx.spark, inp.feature_store)
        m.register_store("feature_store", fstore)
        m.declare_asof_feature(STORE_FEATURE, store="feature_store", allow_exact_matches=False)
    return m


def _checksum_exprs(cols: list[str]):
    # pmod keeps the sum far from overflow (ANSI mode raises on it)
    h = F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(2147483647))
    return F.count(F.lit(1)).alias("rows"), F.sum(h).alias("checksum")


def _force(df: DataFrame, *exprs) -> dict:
    """Run ``df`` to a no-op sink, observing ``exprs`` in the same job."""
    obs = Observation()
    df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
    return dict(obs.get)


# =============================================================== train_pit


class TrainPit:
    """Point-in-time training build over the whole spine, one at a time."""

    name = "train_pit"

    def __init__(self, ctx) -> None:
        self.ref = R.train_reference(ctx.tables)
        self.n_rows = len(self.ref)
        self.expected: dict | None = None

    def setup(self, ctx) -> None:
        with ctx.tracer.span("sources.tables"):
            self.spine = read_table(ctx.spark, ctx.inputs.transcripts)
        self.model = build_model(ctx)
        # warm-up: one build exactly like a timed one
        _force(self.model.materialize(self.spine, R.TRAIN_COLUMNS),
               *_checksum_exprs(R.TRAIN_COLUMNS))

    def verify(self, ctx) -> list[str]:
        df = self.model.materialize(self.spine, R.TRAIN_COLUMNS)
        obs = Observation()
        out = df.observe(obs, *_checksum_exprs(R.TRAIN_COLUMNS)).toPandas()
        out["ts"] = _ts_us(out["ts"])
        problems = []
        if len(out) != self.n_rows:
            problems.append(f"train output has {len(out)} rows, spine has {self.n_rows}")
        problems += R.compare(out, self.ref, ["conv_id", "turn_idx"], R.TRAIN_COLUMNS[2:])
        for col, table in (("asof_value", "asof_store"), (STORE_FEATURE, "feature_store")):
            leaks = R.leakage_rows(out, col, R.store_frame(ctx.tables[table]))
            if leaks:
                problems.append(f"{leaks} rows of {col} use a value from the future")
        if not problems:
            self.expected = dict(obs.get)
        return problems

    def op(self, ctx, i: int) -> OpResult:
        sw = ctx.stopwatch()
        with ctx.tracer.span("plans.model"):
            df = self.model.materialize(self.spine, R.TRAIN_COLUMNS)
        build_s = sw.read()[0]
        ctx.before_action(df)
        with ctx.tracer.span("spark"):
            got = _force(df, *_checksum_exprs(R.TRAIN_COLUMNS))
        res = OpResult(*sw.read())
        res.layers["model.materialize_build_ms"] = build_s * 1000.0
        if got != self.expected:
            res.problems.append(f"train build {i}: observed {got}, verified run gave "
                                f"{self.expected}")
        return res

    def inject_fault(self) -> None:
        """Deliver every as-of answer one turn late."""
        inner = self.model.materialize

        def shifted(spine, columns, variables=None):
            return inner(spine, columns, variables).withColumn(
                "asof_value", F.lag("asof_value").over(_conv_order()))

        self.model.materialize = shifted

    def diagnose(self, ctx) -> None:
        t0 = time.perf_counter()
        self.model.compile(R.TRAIN_COLUMNS, self.spine.columns)
        ctx.layer("model.compile_ms", _ms(t0))
        _stage_probes(ctx, self.model, self.spine)

    def finish(self, ctx) -> None:
        """Nothing ends the run: every build is checked."""

    def summary(self, ops: list[OpResult]) -> dict:
        secs = [o.seconds for o in ops]
        return {"train_rows_per_s": (self.n_rows / statistics.median(secs), "rows/s", len(ops))}


def _stage_probes(ctx, model: FeatureModel, spine: DataFrame) -> None:
    """windows.stage_s: the window + transformer features forced alone;
    asof.stage_s: the as-of forced over that output once persisted;
    asof.choose_ms: the automatic strategy choice for the same join."""
    win_cols = ["conv_id", "turn_idx", "ts", "prior_role", "prior_tool", "gap_secs",
                "session_id", "recent_turns", "turn_len", "tool_tag"]
    wdf = model.materialize(spine, win_cols)
    t0 = time.perf_counter()
    with ctx.tracer.span("operators.windows"):
        _force(wdf, F.count(F.lit(1)))
    ctx.layer("windows.stage_s", time.perf_counter() - t0)
    store = read_table(ctx.spark, ctx.inputs.asof_store)
    t0 = time.perf_counter()
    with ctx.tracer.span("operators.asof"):
        strategy = choose_asof_strategy(wdf, store, ["conv_id"])
    ctx.layer("asof.choose_ms", _ms(t0))
    ctx.note("asof.strategy", strategy)
    held = wdf.persist()
    try:
        held.count()
        joined = asof_join(held, store, on=["conv_id"], left_ts="ts", right_ts="value_at_ts",
                           value_cols={"value": "asof_value"}, allow_exact_matches=False,
                           right_order=["value"], strategy=strategy)
        t0 = time.perf_counter()
        with ctx.tracer.span("operators.asof"):
            _force(joined, F.count(F.lit(1)))
        ctx.layer("asof.stage_s", time.perf_counter() - t0)
    finally:
        held.unpersist()


# =========================================================== online_lookup

_LOOKUP = "query Lookup($id: String!{vars}) {{ dataElement {{ conv(convId: $id) {{ {sel} }} }}{rest} }}"

# (query text, extra variables, output column -> reference column)
SHAPES: list[tuple[str, dict, dict[str, str]]] = [
    (
        _LOOKUP.format(vars="", sel="turnIdx role priorRole gapSecs turnLen", rest=""),
        {},
        {"turnIdx": "turn_idx", "role": "role", "priorRole": "prior_role",
         "gapSecs": "gap_secs", "turnLen": "turn_len"},
    ),
    (
        _LOOKUP.format(vars="", sel="t: turnIdx prev: priorTool sess: sessionId asof: asofValue",
                       rest=""),
        {},
        {"t": "turn_idx", "prev": "prior_tool", "sess": "session_id", "asof": "asof_value"},
    ),
    (
        # the FeatureStore-backed feature is selected by its declared name:
        # under any other name the document path reads the store with that
        # name as feature_id (see README.md, "Known defect")
        _LOOKUP.format(vars="", sel="turnIdx ...History", rest="")
        + " fragment History on Conv { recentTurns toolTag store_value }",
        {},
        {"turnIdx": "turn_idx", "recentTurns": "recent_turns", "toolTag": "tool_tag",
         "store_value": "store_value"},
    ),
    (
        _LOOKUP.format(vars=", $gap: Float = 1800.0", sel="turnIdx",
                       rest=" features { convFeatures { sess: sessionId(gap_threshold_s: $gap) } }"),
        {"gap": 600.0},
        {"turnIdx": "turn_idx", "sess": "session_600"},
    ),
    (
        _LOOKUP.format(vars=", $gap: Float = 1800.0", sel="turnIdx",
                       rest=" features { convFeatures { sess: sessionId(gap_threshold_s: $gap) } }"),
        {"gap": 1800.0},
        {"turnIdx": "turn_idx", "sess": "session_id"},
    ),
]


class OnlineLookup:
    """Closed loop, one client: GraphQL entity lookups, each collected."""

    name = "online_lookup"

    def __init__(self, ctx) -> None:
        ref = R.train_reference(ctx.tables)
        sp = R.spine_frame(ctx.tables["transcripts"])
        ref["role"] = sp["role"].to_numpy(dtype=object)
        ref["session_600"] = R.session_ids(sp, 600.0)
        self.ref = ref
        conv = ref["conv_id"].to_numpy()
        ids, starts = np.unique(conv, return_index=True)
        ends = np.append(starts[1:], len(conv))
        self.bounds = {c: (int(s), int(e)) for c, s, e in zip(ids, starts, ends)}
        # Zipf ranks over the entity set in seeded order; the hot conversation
        # sits at a fixed rank so it is drawn a few percent of the time
        rng = np.random.default_rng(ctx.seed + 101)
        order = [c for c in rng.permutation(ids) if c != ctx.inputs.hot_conv]
        order.insert(4, ctx.inputs.hot_conv)
        ranks = rng.zipf(1.2, 100_000)
        ranks = ranks[ranks <= len(order)] - 1
        self.draws = [order[r] for r in ranks]
        self.seen_shapes: set = set()
        self.repeats = 0
        self.fault = False

    def setup(self, ctx) -> None:
        with ctx.tracer.span("sources.tables"):
            self.spine = read_table(ctx.spark, ctx.inputs.transcripts)
        self.model = build_model(ctx)
        # warm-up: one request of every shape
        for k, (q, extra, _) in enumerate(SHAPES):
            materialize_graphql(self.model, self.spine, q,
                                {"id": self.draws[-1 - k], **extra}).collect()

    def verify(self, ctx) -> list[str]:
        # every response is checked exactly; the hot conversation once here
        return self._request(ctx, -1, ctx.inputs.hot_conv, 1).problems

    def op(self, ctx, i: int) -> OpResult:
        return self._request(ctx, i, self.draws[i % len(self.draws)], i % len(SHAPES))

    def _request(self, ctx, i: int, conv: str, shape: int) -> OpResult:
        q, extra, cols = SHAPES[shape]
        variables = {"id": conv, **extra}
        key = (shape, tuple(sorted(extra.items())))
        if i >= 0:
            self.repeats += key in self.seen_shapes
            self.seen_shapes.add(key)
        sw = ctx.stopwatch()
        if ctx.tracer.enabled:
            # the request path split by layer (the full call below repeats
            # the lowering; that cost is part of the tracing overhead)
            t1 = time.perf_counter()
            with ctx.tracer.span("plans.graphql"):
                lowered = lower_graphql(q, None, variables)
            lower_ms = _ms(t1)
            t1 = time.perf_counter()
            with ctx.tracer.span("plans.graphql"):
                validate_request(self.model, lowered, self.spine.columns,
                                 tuple(lowered.operation.variable_defs))
            validate_ms = _ms(t1)
        t1 = time.perf_counter()
        with ctx.tracer.span("plans.document"):
            df = materialize_graphql(self.model, self.spine, q, variables)
        build_ms = _ms(t1)
        ctx.before_action(df)
        with ctx.tracer.span("spark"):
            rows = df.collect()
        res = OpResult(*sw.read())
        if self.fault and "asof" in df.columns:
            rows = _shift_column(rows, df.columns, "asof")
        res.layers["model.materialize_build_ms"] = build_ms
        if ctx.tracer.enabled:
            res.layers["graphql.lower_ms"] = lower_ms
            res.layers["graphql.validate_ms"] = validate_ms
        res.problems = self._check(conv, shape, rows, df.columns)
        return res

    def _check(self, conv: str, shape: int, rows, columns: list[str]) -> list[str]:
        cols = SHAPES[shape][2]
        if list(columns) != list(cols):
            return [f"{conv} shape {shape}: columns {columns}, expected {list(cols)}"]
        lo, hi = self.bounds[conv]
        exp = self.ref.iloc[lo:hi][list(cols.values())].assign(conv_id=conv)
        got = pd.DataFrame([tuple(r) for r in rows], columns=list(cols), dtype=object)
        got = got.rename(columns=cols).assign(conv_id=conv)
        problems = R.compare(got, exp, ["conv_id", "turn_idx"],
                             [c for c in cols.values() if c != "turn_idx"])
        return [f"{conv} shape {shape}: {p}" for p in problems]

    def inject_fault(self) -> None:
        """Deliver the as-of answers of every response one turn late."""
        self.fault = True

    def diagnose(self, ctx) -> None:
        q, extra, _ = SHAPES[1]
        lowered = lower_graphql(q, None, {"id": self.draws[0]})
        names = [spec.get("feature", out)
                 for out, spec in lowered.doc["select"]["features"].items()]
        t0 = time.perf_counter()
        self.model.compile(names, self.spine.columns)
        ctx.layer("model.compile_ms", _ms(t0))
        one = self.spine.filter(F.col("conv_id") == F.lit(self.draws[0]))
        t0 = time.perf_counter()
        with ctx.tracer.span("operators.asof"):
            strategy = choose_asof_strategy(one, read_table(ctx.spark, ctx.inputs.asof_store),
                                            ["conv_id"])
        ctx.layer("asof.choose_ms", _ms(t0))
        ctx.note("asof.strategy", strategy)

    def finish(self, ctx) -> None:
        """Nothing ends the run: every response is checked."""

    def summary(self, ops: list[OpResult]) -> dict:
        ms = sorted(o.seconds * 1000.0 for o in ops)
        return {
            "request_p50_ms": (statistics.median(ms), "ms", len(ms)),
            "request_p90_ms": (p90(ms), "ms", len(ms)),
        }

    def repeat_share(self, n_ops: int) -> float:
        return self.repeats / max(n_ops, 1)


def _shift_column(rows, columns: list[str], col: str) -> list[tuple]:
    j, k = columns.index(col), 0  # column 0 is the turn index in every shape
    rows = sorted((tuple(r) for r in rows), key=lambda r: r[k])
    vals = [None] + [r[j] for r in rows[:-1]]
    return [r[:j] + (v,) + r[j + 1:] for r, v in zip(rows, vals)]


# ============================================================= store_cycle

_EPOCH_CALC = np.datetime64("2025-01-01T00:00:00", "us").astype(np.int64)
N_SLICES = 16  # more than a run's cycles: the store grows for the whole run
CORRECTION_MOD = 5  # one in five points of the previous slice is re-published
VALUE_FEATURE = "turn_len"


class StoreCycle:
    """FeatureStore write/read cycles on a benchmark-owned parquet store."""

    name = "store_cycle"

    def __init__(self, ctx) -> None:
        sp = R.spine_frame(ctx.tables["transcripts"])
        self.spine_ref = sp[["conv_id", "turn_idx", "ts", "conv_ord"]]
        self.values = sp["text"].str.len().to_numpy().astype(np.int64)
        self.n_slices = N_SLICES
        self.cuts = np.quantile(sp["ts"].to_numpy(), np.linspace(0, 1, self.n_slices + 1))
        self.cuts[-1] += 1
        self.cuts = self.cuts.astype(np.int64)
        self.ref_store = R.StoreModel()
        self.read_s: list[float] = []
        self.compact_s = self.bytes_per_value = 0.0

    # the published frame for cycle i, engine side and reference side
    def _slice_df(self, i: int) -> DataFrame:
        lo, hi = int(self.cuts[i]), int(self.cuts[i + 1])
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
        out = self.values_df.filter((ts_us >= lo) & (ts_us < hi))
        if i > 0:
            plo = int(self.cuts[i - 1])
            conv_ord = F.substring("conv_id", 6, 8).cast("long")
            fix = self.values_df.filter(
                (ts_us >= plo) & (ts_us < lo)
                & (((conv_ord * 31 + F.col("turn_idx") + i) % CORRECTION_MOD) == 0)
            ).withColumn("v", F.col("v") + F.lit(1000 * i))
            out = out.unionByName(fix)
        return out

    def _slice_ref(self, i: int):
        sp, ts = self.spine_ref, self.spine_ref["ts"].to_numpy()
        lo, hi = self.cuts[i], self.cuts[i + 1]
        sel = (ts >= lo) & (ts < hi)
        conv, at, v = [sp["conv_id"].to_numpy()[sel]], [ts[sel]], [self.values[sel]]
        if i > 0:
            plo = self.cuts[i - 1]
            k = (sp["conv_ord"].to_numpy() * 31 + sp["turn_idx"].to_numpy() + i) % CORRECTION_MOD
            fix = (ts >= plo) & (ts < lo) & (k == 0)
            conv.append(sp["conv_id"].to_numpy()[fix])
            at.append(ts[fix])
            v.append(self.values[fix] + 1000 * i)
        return np.concatenate(conv), np.concatenate(at), np.concatenate(v)

    @staticmethod
    def _stamp(i: int) -> int:
        return int(_EPOCH_CALC + i * 3_600_000_000)

    def setup(self, ctx) -> None:
        with ctx.tracer.span("sources.tables"):
            tr = read_table(ctx.spark, ctx.inputs.transcripts)
        with ctx.tracer.span("functions"):
            registry = default_registry()
            self.values_df = tr.select(
                "conv_id", "turn_idx", "ts", registry.apply("char_len", F.col("text")).alias("v")
            )
        self.read_spine = tr.select("conv_id", "turn_idx", "ts")
        self.path = os.path.join(ctx.work, "store")
        shutil.rmtree(self.path, ignore_errors=True)
        with ctx.tracer.span("store"):
            self.store = FeatureStore(ctx.spark, self.path)
        # warm-up on a throw-away store: the first cycle's publish and read
        warm = FeatureStore(ctx.spark, os.path.join(ctx.work, "warm_store"))
        warm.publish(self._slice_df(0), VALUE_FEATURE, "v", calculated_at=_ts_lit(self._stamp(0)))
        _force(warm.read_through(self.read_spine, VALUE_FEATURE, "v"), F.count(F.lit(1)))
        shutil.rmtree(warm.location, ignore_errors=True)

    def verify(self, ctx) -> None:
        """Nothing to check before the cycles: each cycle is checked."""

    def _read(self, knowledge_us: int | None):
        df = self.store.read_through(
            self.read_spine, VALUE_FEATURE, "v",
            knowledge_time=None if knowledge_us is None else _ts_lit(knowledge_us),
        )
        v = F.get_json_object("v", "$.v").cast("long")
        vi = F.coalesce(v, F.lit(0))
        conv_ord = F.substring("conv_id", 6, 8).cast("long")
        exprs = (
            F.count(F.lit(1)).alias("rows"), F.count(v).alias("hits"), F.sum(vi).alias("sum_v"),
            F.sum(vi * (F.col("turn_idx") + 1)).alias("sum_v_turn"),
            F.sum(vi * conv_ord).alias("sum_v_conv"),
        )
        return df, exprs

    def _expected(self, knowledge_us: int | None) -> dict:
        return R.store_checksum(self.spine_ref,
                                self.ref_store.read_through(self.spine_ref, knowledge_us))

    def op(self, ctx, i: int) -> OpResult:
        if i >= self.n_slices:
            return None  # every slice is published: the run's cycles are done
        stamp = self._stamp(i)
        pub = self._slice_df(i)
        conv, at, v = self._slice_ref(i)
        # every third cycle reads the knowledge of the cycle before
        knowledge = self._stamp(i - 1) if i % 3 == 2 else None
        sw = ctx.stopwatch()
        with ctx.tracer.span("store"):
            self.store.publish(pub, VALUE_FEATURE, "v", calculated_at=_ts_lit(stamp))
        t_pub = sw.read()[0]
        with ctx.tracer.span("store"):
            df, exprs = self._read(knowledge)
        ctx.before_action(df)
        with ctx.tracer.span("spark"):
            got = _force(df, *exprs)
        res = OpResult(*sw.read())
        t_read = res.seconds - t_pub
        self.ref_store.publish(conv, at, v, stamp)
        res.layers["store.publish_s"] = t_pub
        res.layers["store.read_through_s"] = t_read
        res.layers["store.publish_rows_per_s"] = len(conv) / t_pub
        res.layers["store.read_through_rows_per_s"] = len(self.spine_ref) / t_read
        self.read_s.append(t_read)
        want = self._expected(knowledge)
        if got != want:
            res.problems.append(f"cycle {i} read-through: observed {got}, reference {want}")
        return res

    def finish(self, ctx) -> list[str]:
        if not self.ref_store.rows:
            return ["store_cycle: no cycle completed"]
        problems = []
        want = self._expected(None)
        df, exprs = self._read(None)
        before = _force(df, *exprs)
        ctx.layer("store.files", len(_data_files(self.path)))
        t0 = time.perf_counter()
        with ctx.tracer.span("store"):
            counts = self.store.compact()
        compact_s = time.perf_counter() - t0
        ctx.layer("store.compact_s", compact_s)
        ctx.layer("store.rows_before_compact", counts["rows_before"])
        ctx.layer("store.rows_after_compact", counts["rows_after"])
        live = self.ref_store.live_points()
        size = sum(os.path.getsize(f) for f in _data_files(self.path))
        ctx.layer("store.bytes_per_value", size / live)
        self.compact_s, self.bytes_per_value = compact_s, size / live
        if counts["rows_after"] != live:
            problems.append(f"compact kept {counts['rows_after']} rows, {live} live points")
        df, exprs = self._read(None)
        after = _force(df, *exprs)
        if not before == after == want:
            problems.append(f"read-through before compact {before}, after {after}, "
                            f"reference {want}")
        return problems

    def inject_fault(self) -> None:
        """Deliver every read-through answer one turn late."""
        inner = self.store.read_through

        def shifted(spine, *args, **kwargs):
            return inner(spine, *args, **kwargs).withColumn(
                "v", F.lag("v").over(_conv_order()))

        self.store.read_through = shifted

    def diagnose(self, ctx) -> None:
        if len(self.read_s) >= 2:
            ctx.layer("store.read_growth", self.read_s[-1] / self.read_s[0])

    def summary(self, ops: list[OpResult]) -> dict:
        def med(name):
            return statistics.median(o.layers[name] for o in ops)

        return {
            "publish_rows_per_s": (med("store.publish_rows_per_s"), "rows/s", len(ops)),
            "readthrough_rows_per_s": (med("store.read_through_rows_per_s"), "rows/s", len(ops)),
            "compact_s": (self.compact_s, "s", 1),
            "store_bytes_per_value": (self.bytes_per_value, "bytes", 1),
        }


def _ts_lit(us: int) -> str:
    return str(np.datetime64(int(us), "us")).replace("T", " ")


def _data_files(path: str) -> list[str]:
    out = []
    for d, _, files in os.walk(path):
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return out


WORKLOADS = {w.name: w for w in (TrainPit, OnlineLookup, StoreCycle)}
