"""Prepared GraphQL entity lookups.

A request whose lookup arguments all bind the model's entity key is lowered
once over the whole spine; each request then filters that template by its
entity. These tests hold the template path to the filter-first path it
replaces (same rows, same columns, same errors), check when the template
is reused and when it is rebuilt, and guard that the entity predicate still
reaches every scan.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from funcify_feature_eng_spark.plans import graphql as G
from funcify_feature_eng_spark.plans.cache import PLAN_CACHE_CAPACITY, LRUCache
from funcify_feature_eng_spark.plans.document import materialize_document
from funcify_feature_eng_spark.plans.graphql import materialize_graphql
from funcify_feature_eng_spark.plans.model import FeatureModel, PlanError
from funcify_feature_eng_spark.store import FeatureStore, contextual_params_hash

HOT = "conv_00000500"  # the 2 000-turn conversation of the test dataset
IDS = ["conv_00000003", HOT, "no_such_conv"]

_LOOKUP = "query L($id: String!{vars}) {{ dataElement {{ conv(convId: $id) {{ {sel} }} }}{rest} }}"

SHAPES = {
    "window_transformer": (
        _LOOKUP.format(vars="", sel="turnIdx role priorRole gapSecs turnLen", rest=""),
        {},
    ),
    "aliased": (
        _LOOKUP.format(vars="", sel="t: turnIdx prev: priorTool sess: sessionId", rest=""),
        {},
    ),
    "fragment": (
        _LOOKUP.format(vars="", sel="turnIdx ...F", rest="")
        + " fragment F on Conv { recentTurns turnLen }",
        {},
    ),
    "gap_600": (
        _LOOKUP.format(vars=", $gap: Float = 1800.0", sel="turnIdx",
                       rest=" features { convFeatures { s: sessionId(gap_threshold_s: $gap) } }"),
        {"gap": 600.0},
    ),
    "gap_default": (
        _LOOKUP.format(vars=", $gap: Float = 1800.0", sel="turnIdx",
                       rest=" features { convFeatures { s: sessionId(gap_threshold_s: $gap) } }"),
        {},
    ),
    "asof_broadcast": (
        _LOOKUP.format(vars="", sel="turnIdx asofB", rest=""),
        {},
    ),
    "asof_union_window": (
        _LOOKUP.format(vars="", sel="turnIdx asofU", rest=""),
        {},
    ),
    "unnest": (
        _LOOKUP.format(vars="", sel="convId turns @unnest { role priorRole }", rest=""),
        {},
    ),
    "collection": (
        _LOOKUP.format(vars="", sel="lastLen: turnLen turns { turnIdx gapSecs }", rest=""),
        {},
    ),
    "adhoc_transformer": (
        "query L($id: String!) { dataElement { conv(convId: $id) { turnIdx role } } "
        "transformer { jq { negOne: negative_to_null(input: -1) } } }",
        {},
    ),
}


def _model(feature_store) -> FeatureModel:
    m = FeatureModel(entity_key="conv_id", order=("turn_idx", "ts"), event_time="ts")
    m.declare_window_feature("prior_role", op="lag", col="role")
    m.declare_window_feature("prior_tool", op="ffill_strict", col="tool")
    m.declare_window_feature("gap_secs", op="gap")
    m.declare_window_feature("session_id", op="session", gap_threshold_s=1800.0)
    m.declare_window_feature("recent_turns", op="rolling_count", col="role", window_s=3600)
    m.declare_transformer_feature("turn_len", "char_len", args=["text"])
    m.register_store("fs", feature_store, last_updated="value_at_ts")
    m.declare_asof_feature("asof_b", store="fs", right_order=["value"], strategy="broadcast",
                           allow_exact_matches=False)
    m.declare_asof_feature("asof_u", store="fs", right_order=["value"],
                           strategy="union_window", allow_exact_matches=False)
    return m


def _filter_first(model, spine, src, variables):
    """The request through the filter-first path only."""
    orig = G._template_key
    G._template_key = lambda *a, **k: None
    try:
        return materialize_graphql(model, spine, src, variables)
    finally:
        G._template_key = orig


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.fixture(scope="module")
def model(feature_store):
    return _model(feature_store)


@pytest.fixture
def count_builds(monkeypatch):
    """Number of FeatureModel.materialize calls (one per lowering)."""
    calls = []
    orig = FeatureModel.materialize

    def counting(self, *a, **k):
        calls.append(1)
        return orig(self, *a, **k)

    monkeypatch.setattr(FeatureModel, "materialize", counting)
    return calls


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_template_answers_equal_filter_first(spark, transcripts, model, shape):
    src, extra = SHAPES[shape]
    for cid in IDS:
        got = materialize_graphql(model, transcripts, src, {"id": cid, **extra})
        want = _filter_first(model, transcripts, src, {"id": cid, **extra})
        assert got.columns == want.columns, (shape, cid)
        rows = _rows(got)
        assert rows == _rows(want), (shape, cid)
        assert (rows == []) == (cid == "no_such_conv"), (shape, cid)
    # the shape's template is the most recently used entry
    assert model._gql_templates.get(list(model._gql_templates)[-1]) is not None


def test_second_id_does_not_relower(transcripts, feature_store, count_builds):
    m = _model(feature_store)
    src, _ = SHAPES["asof_broadcast"]
    materialize_graphql(m, transcripts, src, {"id": IDS[0]}).collect()
    assert len(count_builds) == 1
    for cid in IDS[1:]:
        materialize_graphql(m, transcripts, src, {"id": cid}).collect()
    assert len(count_builds) == 1
    assert len(m._gql_templates) == 1
    # another value of a non-bound variable is another template
    src, _ = SHAPES["gap_600"]
    materialize_graphql(m, transcripts, src, {"id": IDS[0], "gap": 600.0})
    materialize_graphql(m, transcripts, src, {"id": IDS[1], "gap": 900.0})
    materialize_graphql(m, transcripts, src, {"id": IDS[2], "gap": 600.0})
    assert len(count_builds) == 3
    assert len(m._gql_templates) == 3


@pytest.mark.parametrize("mutate", ["declare", "alias", "register_store", "register_source"])
def test_model_mutation_invalidates_template(spark, transcripts, feature_store,
                                             count_builds, mutate):
    m = _model(feature_store)
    src, _ = SHAPES["window_transformer"]
    before = _rows(materialize_graphql(m, transcripts, src, {"id": IDS[0]}))
    materialize_graphql(m, transcripts, src, {"id": IDS[1]})
    assert len(count_builds) == 1
    if mutate == "declare":
        m.declare_window_feature("next_role", op="lead", col="role")
    elif mutate == "alias":
        # the alias tier outranks the convention tier: turnIdx now binds
        # the gap_secs feature
        m.alias("turnIdx", "gap_secs")
    elif mutate == "register_store":
        m.register_store("fs", feature_store.limit(0), last_updated="value_at_ts")
    else:
        m.register_source("extra", spark.createDataFrame([("c", 1)], "conv_id string, x int"))
    after = materialize_graphql(m, transcripts, src, {"id": IDS[0]})
    assert len(count_builds) == 2
    assert _rows(after) == _rows(_filter_first(m, transcripts, src, {"id": IDS[0]}))
    if mutate == "alias":
        assert _rows(after) != before
        assert all(r["turnIdx"] == r["gapSecs"] for r in after.collect())


def test_transformer_reregistration_invalidates_template(transcripts, feature_store):
    m = _model(feature_store)
    src, _ = SHAPES["window_transformer"]
    materialize_graphql(m, transcripts, src, {"id": IDS[0]})
    m.registry.register("char_len", lambda c: F.lit(-7))
    rows = materialize_graphql(m, transcripts, src, {"id": IDS[1]}).collect()
    assert rows and all(r["turnLen"] == -7 for r in rows)


def _write_feature_store(path: str, rows: list[tuple[str, str, str]], feature_id: str) -> None:
    """A FeatureStore-layout parquet file written by pyarrow (timestamp_ntz
    columns), the way the benchmark writes its store."""
    import numpy as np

    ts = np.array([t for _c, _v, t in rows], dtype="datetime64[us]")
    pq.write_table(
        pa.table({
            "feature_id": pa.array([feature_id] * len(rows), pa.string()),
            "conv_id": pa.array([c for c, _v, _t in rows], pa.string()),
            "params_hash": pa.array([contextual_params_hash(None)] * len(rows), pa.string()),
            "value": pa.array([v for _c, v, _t in rows], pa.string()),
            "value_at_ts": pa.array(ts, pa.timestamp("us")),
            "calculated_ts": pa.array(ts, pa.timestamp("us")),
        }),
        os.path.join(path, "part-00000.parquet"),
    )


def test_feature_store_plan_sees_later_publish(spark, transcripts, feature_store, tmp_path,
                                               count_builds):
    path = str(tmp_path / "fstore")
    os.makedirs(path)
    _write_feature_store(path, [("conv_00000009", '{"v":1}', "2000-01-01T00:00:00")],
                         "store_value")
    m = _model(feature_store)
    m.register_store("feature_store", FeatureStore(spark, path))
    m.declare_asof_feature("store_value", store="feature_store")
    src = _LOOKUP.format(vars="", sel="turnIdx store_value", rest="")
    first = materialize_graphql(m, transcripts, src, {"id": "conv_00000009"}).collect()
    assert first and {r["store_value"] for r in first} == {'{"v":1}'}
    later = transcripts.filter(F.col("conv_id") == "conv_00000009").limit(1)
    FeatureStore(spark, path).publish(
        later.withColumn("ts", F.lit("2000-06-01 00:00:00").cast("timestamp"))
        .withColumn("val", F.lit(2)),
        "store_value", "val", calculated_at="2000-06-01 00:00:00",
    )
    second = materialize_graphql(m, transcripts, src, {"id": "conv_00000009"}).collect()
    assert {r["store_value"] for r in second} == {'{"v":2}'}
    # FeatureStore plans stay filter-first: every request lowers again
    assert len(count_builds) == 2
    assert [m._gql_templates.get(k) for k in m._gql_templates] == [None]


def test_non_entity_lookup_stays_filter_first(transcripts, model, count_builds):
    src = "query L($r: String!) { conv(role: $r) { convId turnIdx priorRole } }"
    got = materialize_graphql(model, transcripts, src, {"r": "tool"})
    want = materialize_document(
        model, transcripts.filter(F.col("role") == "tool"),
        {"select": {"features": {"convId": {}, "turnIdx": {}, "priorRole": {}}}},
    )
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    n = len(count_builds)
    materialize_graphql(model, transcripts, src, {"r": "user"})
    assert len(count_builds) == n + 1  # no template: each request lowers again


def test_lookup_arg_collision_still_raises(spark):
    ev = spark.createDataFrame(
        [(1, 1, "2024-03-01 12:00:00")], "event_id long, user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    m = FeatureModel(entity_key="user_id", order=("ts", "event_id"), event_time="ts")
    src = """
    query Q($uid: Int!) {
        transformer { jq { userId: negative_to_null(input: 1) } }
        dataElement { user(userId: $uid) { userId } }
    }
    """
    for _ in range(2):  # nothing cached by the failure
        with pytest.raises(PlanError, match="collides"):
            materialize_graphql(m, ev, src, variables={"uid": 1})
    assert len(m._gql_templates) == 0


def test_bound_variable_used_elsewhere_stays_exact(spark):
    """A lookup variable that also feeds the selection must not be baked
    into a shared template."""
    ev = spark.createDataFrame(
        [(1, 1, "2024-03-01 12:00:00"), (2, 2, "2024-03-01 12:00:00")],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    m = FeatureModel(entity_key="user_id", order=("ts", "event_id"), event_time="ts")
    src = """
    query Q($uid: Int!) {
        transformer { jq { echo: negative_to_null(input: $uid) } }
        dataElement { user(userId: $uid) { userId } }
    }
    """
    for uid in (1, 2):
        rows = materialize_graphql(m, ev, src, variables={"uid": uid}).collect()
        assert [(r["userId"], r["echo"]) for r in rows] == [(uid, uid)]


def test_template_cache_is_bounded(transcripts, feature_store):
    m = _model(feature_store)
    assert m._gql_templates.capacity == PLAN_CACHE_CAPACITY
    m._gql_templates = LRUCache(2)
    src, _ = SHAPES["gap_600"]
    for gap in (60.0, 120.0, 240.0, 480.0):
        materialize_graphql(m, transcripts, src, {"id": IDS[0], "gap": gap})
        assert len(m._gql_templates) <= 2
    assert len(m._gql_templates) == 2


def test_doc_cache_is_bounded(transcripts, feature_store):
    m = _model(feature_store)
    assert m._doc_cache.capacity == PLAN_CACHE_CAPACITY
    m._doc_cache = LRUCache(3)
    for gap in range(10):
        materialize_document(m, transcripts, {
            "variables": {"gap": float(gap)},
            "select": {"features": {"s": {"feature": "session_id",
                                          "args": {"gap_threshold_s": "$gap"}}}},
        })
        assert len(m._doc_cache) <= 3


def test_lru_cache_evicts_least_recently_used():
    c = LRUCache(2)
    c.put("a", 1)
    c.put("b", 2)
    assert c.get("a") == 1  # refreshes a
    c.put("c", 3)
    assert list(c) == ["a", "c"]
    assert c.get("b", "miss") == "miss"
    c.put("a", 4)
    assert c["a"] == 4 and len(c) == 2 and c.get("c") == 3
    with pytest.raises(ValueError):
        LRUCache(0)


def test_lru_cache_concurrent_use():
    """Requests on one model share its caches across threads."""
    import sys
    import threading

    c = LRUCache(8)
    errors: list[BaseException] = []

    def worker(seed: int) -> None:
        try:
            for i in range(3000):
                k = (seed * 7 + i) % 32
                got = c.get(k)
                if got is not None and got != k * 2:
                    raise AssertionError(f"key {k} read {got}")
                c.put(k, k * 2)
                if len(c) > 8:
                    raise AssertionError(f"{len(c)} entries")
                list(c)
        except BaseException as e:  # noqa: BLE001 - reported by the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(n,)) for n in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(c) == 8


@pytest.mark.parametrize("shape", ["asof_broadcast", "asof_union_window"])
def test_entity_predicate_pushed_into_every_scan(transcripts, model, shape):
    """Guard: if a future operator blocks the pushdown, every cached lookup
    would compute all entities — fail loudly instead."""
    src, _ = SHAPES[shape]
    cid = IDS[1]
    materialize_graphql(model, transcripts, src, {"id": IDS[0]})
    df = materialize_graphql(model, transcripts, src, {"id": cid})
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [line for line in plan.splitlines() if "FileScan" in line]
    spine = [s for s in scans if "transcripts.parquet" in s]
    store = [s for s in scans if "feature_store.parquet" in s]
    assert spine and store, plan
    for s in spine + store:
        assert f"EqualTo(conv_id,{cid})" in s.split("PushedFilters:", 1)[1], s
        assert f"(conv_id#" in s and f" = {cid})" in s.split("DataFilters:", 1)[1], s
