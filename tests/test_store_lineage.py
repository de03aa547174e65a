"""Feature-store lifecycle (Planned→Calculated→Tracked) and lineage resume."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from funcify_feature_eng_spark.lineage import LineageTracker, fingerprint_df
from funcify_feature_eng_spark.store import FeatureStore


@pytest.fixture()
def tmp_store(spark, tmp_path):
    return FeatureStore(spark, str(tmp_path / "feature_store"), entity_col="conv_id")


def _spine(spark):
    return spark.createDataFrame(
        [("c1", 0, "2024-01-01 00:00:00"), ("c1", 1, "2024-01-01 02:00:00"),
         ("c2", 0, "2024-01-01 01:00:00")],
        "conv_id string, turn_idx int, ts_s string",
    ).selectExpr("conv_id", "turn_idx", "cast(ts_s as timestamp) as ts")


def test_empty_store_reads_empty(tmp_store):
    assert tmp_store.read().count() == 0


def test_publish_then_read_through(spark, tmp_store):
    spine = _spine(spark)
    computed = spine.withColumn("f", F.col("turn_idx") * 10)
    tmp_store.publish(computed, "features/f", "f")
    got = tmp_store.read_through(spine, "features/f", "f_val").orderBy("conv_id", "turn_idx")
    rows = got.collect()
    # each row sees its own published value (value_at_ts == ts, exact match allowed)
    assert [r["f_val"] for r in rows] == ['{"v":0}', '{"v":10}', '{"v":0}']
    assert all(r["f_val_at_ts"] is not None for r in rows)


def test_strict_read_through_sees_only_prior(spark, tmp_store):
    spine = _spine(spark)
    tmp_store.publish(spine.withColumn("f", F.col("turn_idx")), "features/f", "f")
    got = (
        tmp_store.read_through(spine, "features/f", "v", allow_exact_matches=False)
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    # first turn of each conv has no strictly-prior value
    assert got[0]["v"] is None and got[2]["v"] is None
    assert got[1]["v"] == '{"v":0}'


def test_materialize_with_store_computes_only_misses(spark, tmp_store):
    spine = _spine(spark)
    # pre-publish a value for c1 turn 0 only
    pre = spine.filter("conv_id = 'c1' and turn_idx = 0").withColumn("g", F.lit(99))
    tmp_store.publish(pre, "features/g", "g")

    calls = []

    def compute(df):
        pdf = df.select("conv_id", "turn_idx").toPandas()
        calls.extend(map(tuple, pdf.itertuples(index=False)))
        return df.withColumn("g", F.col("turn_idx") + 1)

    out = tmp_store.materialize_with_store(spine, "features/g", compute, "g")
    assert out.count() == 3
    # c1 turn 0 was Tracked; turn 1 read-through ALSO finds the tracked value
    # (ffill), so only c2's first turn was Planned
    assert ("c1", 0) not in calls


def test_lineage_skip_on_second_run(spark, tmp_path, transcripts):
    lt = LineageTracker(spark, str(tmp_path / "ckpt"))
    df = transcripts.filter("turn_idx < 5")
    out1 = lt.run_stage("stage1", df)
    rec1 = lt.metrics("stage1")
    assert rec1["n_rows"] == out1.count()
    assert rec1["n_partitions"] >= 1
    t0 = time.time()
    out2 = lt.run_stage("stage1", df)
    fast = time.time() - t0
    assert out2.count() == out1.count()
    # second run must not rewrite: record unchanged
    rec2 = lt.metrics("stage1")
    assert rec2["completed_at"] == rec1["completed_at"]
    assert fast < 30


def test_lineage_recomputes_on_plan_change(spark, tmp_path, transcripts):
    lt = LineageTracker(spark, str(tmp_path / "ckpt2"))
    lt.run_stage("s", transcripts.filter("turn_idx < 5"))
    r1 = lt.metrics("s")
    lt.run_stage("s", transcripts.filter("turn_idx < 3"))
    r2 = lt.metrics("s")
    assert r1["fingerprint"] != r2["fingerprint"]
    assert r2["n_rows"] < r1["n_rows"]


def test_fingerprint_stable_across_sessions(spark, transcripts):
    df = transcripts.select("conv_id", "turn_idx")
    assert fingerprint_df(df) == fingerprint_df(transcripts.select("conv_id", "turn_idx"))


def test_lineage_partition_metrics_written(spark, tmp_path, transcripts):
    lt = LineageTracker(spark, str(tmp_path / "ckpt3"))
    lt.run_stage("s", transcripts.repartition(4, "conv_id"))
    rec = lt.metrics("s")
    assert sum(rec["partition_rows"].values()) == rec["n_rows"]


def test_lineage_file_is_jsonl(spark, tmp_path, transcripts):
    lt = LineageTracker(spark, str(tmp_path / "ckpt4"))
    lt.run_stage("a", transcripts.limit(10))
    lt.run_stage("b", transcripts.limit(20))
    path = os.path.join(str(tmp_path / "ckpt4"), "_lineage.jsonl")
    with open(path) as f:
        lines = [l for l in f if l.strip()]
    assert len(lines) == 2


def test_contextual_params_identity_no_collision(spark, tmp_store):
    """Two parameterizations of ONE feature path must not collide — the
    reference keys tracked values on (featurePath, contextualParameters)
    (DispatchService.kt:960-1127, TrackableValue.kt:147-155)."""
    from funcify_feature_eng_spark.store import contextual_params_hash

    spine = _spine(spark)
    tmp_store.publish(
        spine.withColumn("f", F.lit(7)), "features/f", "f", params={"window": "7d"}
    )
    tmp_store.publish(
        spine.withColumn("f", F.lit(30)), "features/f", "f", params={"window": "30d"}
    )
    # hash is canonical: key order doesn't matter, values do
    assert contextual_params_hash({"a": 1, "b": 2}) == contextual_params_hash({"b": 2, "a": 1})
    assert contextual_params_hash({"window": "7d"}) != contextual_params_hash({"window": "30d"})

    got7 = tmp_store.read_through(spine, "features/f", "v", params={"window": "7d"})
    got30 = tmp_store.read_through(spine, "features/f", "v", params={"window": "30d"})
    vals7 = {r["v"] for r in got7.collect() if r["v"] is not None}
    vals30 = {r["v"] for r in got30.collect() if r["v"] is not None}
    assert vals7 == {'{"v":7}'} and vals30 == {'{"v":30}'}
    # unknown parameterization: all Planned (no bleed from other params)
    miss = tmp_store.read_through(spine, "features/f", "v", params={"window": "90d"})
    assert [r["v"] for r in miss.collect()] == [None, None, None]


def test_feature_model_routes_asof_through_feature_store(spark, tmp_store):
    """FeatureModel asof features use FeatureStore.read_through with the
    declared contextual params as the store identity."""
    from funcify_feature_eng_spark.plans.model import FeatureModel

    spine = _spine(spark)
    tmp_store.publish(
        spine.withColumn("g", F.lit(1)), "g7", "g", params={"window": "7d"}
    )
    tmp_store.publish(
        spine.withColumn("g", F.lit(2)), "g30", "g", params={"window": "30d"}
    )

    m = FeatureModel(entity_key="conv_id", order=("turn_idx",), event_time="ts")
    m.register_store("fs", tmp_store)
    m.declare_asof_feature("g7", store="fs", params={"window": "7d"})
    m.declare_asof_feature("g30", store="fs", params={"window": "30d"})
    out = m.materialize(spine, ["conv_id", "turn_idx", "g7", "g30"]).orderBy(
        "conv_id", "turn_idx"
    )
    rows = out.collect()
    assert {r["g7"] for r in rows} == {'{"v":1}'}
    assert {r["g30"] for r in rows} == {'{"v":2}'}


def test_run_incremental_processes_only_new_rows(spark, tmp_path):
    """Watermark-based refresh: second run computes ONLY rows after the
    recorded high-watermark and appends; watermark advances."""
    from funcify_feature_eng_spark.lineage import LineageTracker

    tracker = LineageTracker(spark, str(tmp_path / "inc"))
    phase1 = _spine(spark)  # ts up to 2024-01-01 02:00

    calls = []

    def compute(df):
        calls.append(1)
        return df.withColumn("f", F.col("turn_idx") * 10)

    out1 = tracker.run_incremental("feat", phase1, compute, ts_col="ts")
    assert out1.count() == 3
    rec1 = tracker.metrics("feat")
    assert rec1["rows_appended"] == 3 and "02:00" in rec1["watermark"]

    # phase 2: one old row (skipped by contract) + two new rows
    phase2 = phase1.unionByName(
        spark.createDataFrame(
            [("c1", 2, "2024-01-01 05:00:00"), ("c2", 1, "2024-01-01 06:00:00"),
             ("c9", 0, "2024-01-01 00:30:00")],  # late: before the watermark
            "conv_id string, turn_idx int, ts_s string",
        ).selectExpr("conv_id", "turn_idx", "cast(ts_s as timestamp) as ts")
    )
    out2 = tracker.run_incremental("feat", phase2, compute, ts_col="ts")
    assert out2.count() == 5  # 3 + 2 new (late c9 row skipped)
    rec2 = tracker.metrics("feat")
    assert rec2["rows_appended"] == 2 and "06:00" in rec2["watermark"]

    # no new data → no-op, output unchanged
    out3 = tracker.run_incremental("feat", phase2, compute, ts_col="ts")
    assert out3.count() == 5


def test_materialize_with_store_tag_col_and_custom_entity(spark, tmp_path):
    """Planned→Calculated→Tracked witness: pass 1 computes everything
    (tag 'computed'), pass 2 serves everything from the store ('store'),
    including an as-of hit at a later request time; entity_col other than
    the storage-canonical conv_id round-trips through the rename."""
    from funcify_feature_eng_spark.store import FeatureStore

    store = FeatureStore(spark, str(tmp_path / "fs"), entity_col="user_id")
    spine = spark.createDataFrame(
        [("u1", "2024-01-10 00:00:00"), ("u2", "2024-01-10 00:00:00")],
        "user_id string, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))

    def compute(planned):
        return planned.withColumn("f", F.length("user_id").cast("double"))

    p1 = store.materialize_with_store(spine, "f", compute, "f", tag_col="src")
    assert {r["src"] for r in p1.collect()} == {"computed"}

    later = spine.withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 DAYS"))
    p2 = store.materialize_with_store(later, "f", compute, "f", tag_col="src")
    rows = p2.collect()
    assert {r["src"] for r in rows} == {"store"}
    # as-of witness: served value_at is the ORIGINAL publish time, not ts
    assert all(r["f_at_ts"] != r["ts"] for r in rows)


def test_store_compact_removes_shadowed_duplicates(spark, tmp_store):
    """Re-publishing the same identity point appends shadowed rows; compact
    keeps only the latest per (feature, entity, params, value_at_ts) and
    read-through results are unchanged."""
    import time as _time

    spine = _spine(spark)
    tmp_store.publish(spine.withColumn("f", F.col("turn_idx") * 10), "features/f", "f")
    _time.sleep(1.1)  # calculated_ts granularity: the re-publish must be later
    tmp_store.publish(spine.withColumn("f", F.col("turn_idx") * 10), "features/f", "f")
    before = tmp_store.read_through(spine, "features/f", "fv").orderBy(
        "conv_id", "turn_idx").collect()
    stats = tmp_store.compact()
    assert stats["rows_before"] == 6 and stats["rows_after"] == 3
    after = tmp_store.read_through(spine, "features/f", "fv").orderBy(
        "conv_id", "turn_idx").collect()
    assert [r["fv"] for r in after] == [r["fv"] for r in before]
    # the survivors are the LATEST records (second publish's calculated_ts)
    cts = {r["calculated_ts"] for r in tmp_store.read().collect()}
    assert len(cts) == 1


def test_bitemporal_knowledge_read(spark, tmp_store):
    """read_through(knowledge_time=K) must see exactly what the store had
    CALCULATED by K: nothing before the first publish, the original value
    between the two stamps, the correction after — and the default read
    (no knowledge filter) always sees the latest correction."""
    vals = spark.createDataFrame(
        [("c1", 10.0), ("c2", 20.0)], "conv_id string, v double"
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    tmp_store.publish(vals, "f", "v", ts_col="ts",
                      calculated_at="2025-01-01 00:00:00")
    corrected = vals.withColumn("v", F.col("v") + 1.0)
    tmp_store.publish(corrected, "f", "v", ts_col="ts",
                      calculated_at="2025-02-01 00:00:00")
    spine = vals.select(
        "conv_id", F.lit("2024-06-01 00:00:00").cast("timestamp").alias("ts")
    )

    def read(know):
        out = tmp_store.read_through(spine, "f", "val", ts_col="ts",
                                     knowledge_time=know)
        return {
            r["conv_id"]: r["val"] and float(
                __import__("json").loads(r["val"])["v"]
            )
            for r in out.collect()
        }

    assert read("2024-12-01 00:00:00") == {"c1": None, "c2": None}
    assert read("2025-01-15 00:00:00") == {"c1": 10.0, "c2": 20.0}
    assert read("2025-03-01 00:00:00") == {"c1": 11.0, "c2": 21.0}
    # default read = current knowledge: the correction wins
    latest = tmp_store.read_through(spine, "f", "val", ts_col="ts")
    got = {
        r["conv_id"]: float(__import__("json").loads(r["val"])["v"])
        for r in latest.collect()
    }
    assert got == {"c1": 11.0, "c2": 21.0}


def test_expire_keeps_latest_prior_vintage(spark, tmp_store):
    """expire(cutoff) drops deep history but keeps each identity's latest
    at-or-before-cutoff record, so as-of reads at request times >= cutoff
    are UNCHANGED by retention."""
    import json as _json

    def pub(v, at, know):
        vals = spark.createDataFrame(
            [("c1", float(v))], "conv_id string, v double"
        ).withColumn("ts", F.lit(at).cast("timestamp"))
        tmp_store.publish(vals, "f", "v", ts_col="ts", calculated_at=know)

    pub(1.0, "2024-01-01 00:00:00", "2025-01-01 00:00:00")
    pub(2.0, "2024-02-01 00:00:00", "2025-01-01 00:00:00")
    pub(3.0, "2024-04-01 00:00:00", "2025-01-01 00:00:00")
    spine = spark.createDataFrame([("c1",)], "conv_id string").withColumn(
        "ts", F.lit("2024-03-01 00:00:00").cast("timestamp")
    )
    before = tmp_store.read_through(spine, "f", "val", ts_col="ts").first()
    stats = tmp_store.expire("2024-03-01 00:00:00")
    assert (stats["rows_before"], stats["rows_after"]) == (3, 2)
    after = tmp_store.read_through(spine, "f", "val", ts_col="ts").first()
    # the as-of answer at a retained-horizon request time is unchanged
    assert _json.loads(before["val"])["v"] == _json.loads(after["val"])["v"] == 2.0
    # deep-history vintage (2024-01-01) is gone; latest-prior + recent stay
    kept = sorted(r["value_at_ts"].isoformat() for r in tmp_store.read().collect())
    assert kept == ["2024-02-01T00:00:00", "2024-04-01T00:00:00"]


def test_expire_hard_cut(spark, tmp_store):
    vals = spark.createDataFrame(
        [("c1", 1.0), ("c2", 2.0)], "conv_id string, v double"
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    tmp_store.publish(vals, "f", "v", ts_col="ts",
                      calculated_at="2025-01-01 00:00:00")
    stats = tmp_store.expire("2024-06-01 00:00:00", keep_latest=False)
    assert (stats["rows_before"], stats["rows_after"]) == (2, 0)


def test_freshness_report_and_pinned_knowledge(spark, tmp_store):
    vals = spark.createDataFrame(
        [("c1", 1.0), ("c2", 2.0)], "conv_id string, v double"
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    tmp_store.publish(vals, "f", "v", ts_col="ts",
                      calculated_at="2025-01-01 00:00:00")
    later = vals.filter("conv_id = 'c1'").withColumn(
        "ts", F.lit("2024-06-01 00:00:00").cast("timestamp")
    )
    tmp_store.publish(later, "f", "v", ts_col="ts",
                      calculated_at="2025-02-01 00:00:00")
    row = tmp_store.freshness().first()
    assert (row["feature_id"], row["n_values"], row["n_entities"]) == ("f", 3, 2)
    assert row["latest_value_at"].isoformat() == "2024-06-01T00:00:00"
    assert row["latest_calculated"].isoformat() == "2025-02-01T00:00:00"
    pinned = tmp_store.freshness(knowledge_time="2025-01-15 00:00:00").first()
    assert pinned["n_values"] == 2
    assert pinned["latest_value_at"].isoformat() == "2024-01-01T00:00:00"


def test_expire_knowledge_frontier_preserves_bitemporal_reads(spark, tmp_store):
    """keep_knowledge_frontier=True must preserve pinned-knowledge answers
    at request times >= cutoff: a pre-cutoff point with a correction keeps
    BOTH knowledge versions, while a late re-publish of an OLDER point
    (strictly dominated) is reclaimed."""
    import json as _json

    def pub(v, at, know):
        vals = spark.createDataFrame(
            [("c1", float(v))], "conv_id string, v double"
        ).withColumn("ts", F.lit(at).cast("timestamp"))
        tmp_store.publish(vals, "f", "v", ts_col="ts", calculated_at=know)

    pub(1.0, "2024-02-01 00:00:00", "2025-01-01 00:00:00")  # original
    pub(2.0, "2024-02-01 00:00:00", "2025-02-01 00:00:00")  # correction
    pub(9.0, "2024-01-01 00:00:00", "2025-03-01 00:00:00")  # late older pub
    stats = tmp_store.expire(
        "2024-03-01 00:00:00", keep_knowledge_frontier=True
    )
    # the dominated late re-publish of 2024-01-01 is gone, both knowledge
    # versions of 2024-02-01 survive
    assert (stats["rows_before"], stats["rows_after"]) == (3, 2)
    spine = spark.createDataFrame([("c1",)], "conv_id string").withColumn(
        "ts", F.lit("2024-06-01 00:00:00").cast("timestamp")
    )

    def val(know):
        r = tmp_store.read_through(
            spine, "f", "val", ts_col="ts", knowledge_time=know
        ).first()
        return r["val"] and _json.loads(r["val"])["v"]

    assert val("2025-01-15 00:00:00") == 1.0  # pre-correction knowledge
    assert val("2025-02-15 00:00:00") == 2.0  # correction visible
    assert val("2024-12-01 00:00:00") is None  # before any knowledge


def test_pinned_read_matches_inferred_on_pyarrow_store(spark, data_dir, transcripts):
    """The session dataset's store is written by pyarrow with timestamp_ntz
    columns; read_through pins publish's types and must answer exactly as
    an as-of over the inferred-schema read of the same files."""
    from pyspark.sql.types import StringType, TimestampType

    from funcify_feature_eng_spark.operators.asof import asof_join

    path = os.path.join(data_dir, "feature_store.parquet")
    fid = "features/convFeatures/storeValue"
    store = FeatureStore(spark, path)
    pinned = store.read(entity_type=StringType())
    assert [f.dataType for f in pinned.schema.fields] == [
        StringType(), StringType(), StringType(), StringType(), TimestampType(), TimestampType()
    ]
    got = store.read_through(transcripts, fid, "v", params_hash="default",
                             allow_exact_matches=False)
    inferred = (
        spark.read.parquet(path)
        .filter((F.col("feature_id") == fid) & (F.col("params_hash") == "default"))
    )
    assert dict(inferred.dtypes)["value_at_ts"] == "timestamp_ntz"
    want = asof_join(transcripts, inferred, on=["conv_id"], left_ts="ts",
                     right_ts="value_at_ts",
                     value_cols={"value": "v", "value_at_ts": "v_at_ts"},
                     allow_exact_matches=False, right_order=["calculated_ts", "value"])

    def answers(df):
        return sorted(df.select("conv_id", "turn_idx", "v",
                                F.col("v_at_ts").cast("string")).collect())

    rows = answers(got)
    assert rows == answers(want)
    assert sum(r["v"] is not None for r in rows) > 0


def test_read_through_starts_no_job_before_action(spark, tmp_store):
    spine = _spine(spark)
    tmp_store.publish(spine.withColumn("f", F.col("turn_idx")), "features/f", "f")
    sc = spark.sparkContext
    group = "read_through_build"
    sc.setJobGroup(group, "jobs started while the plan is built")
    try:
        out = tmp_store.read_through(spine, "features/f", "f_val")
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # the probe sees jobs: the inferred-schema read runs one
        tmp_store.read()
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out.count() == 3


def test_missing_store_reads_empty_with_entity_type(spark, tmp_path):
    from pyspark.sql.types import LongType

    store = FeatureStore(spark, str(tmp_path / "absent"), entity_col="user_id")
    assert store.read(entity_type=LongType()).schema["conv_id"].dataType == LongType()
    spine = spark.createDataFrame([(7, "2024-01-01 00:00:00")], "user_id long, ts string")
    spine = spine.withColumn("ts", F.col("ts").cast("timestamp"))
    rows = store.read_through(spine, "f", "f_val").collect()
    assert [(r["user_id"], r["f_val"]) for r in rows] == [(7, None)]
