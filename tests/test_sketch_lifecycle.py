"""The sketch rollups' shared lifecycle (operators/sketch_retention.py):
streaming merges republish a lineage-free frame, so a merge plans over a
constant-size tree and releases what it replaces once no read holds it;
a dropped cache marks the rollup stale; the one build warms every
handle's mirror; the saved format of every family stays pinned."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from datafusion_uwheel_spark.operators.distinct import (
    build_distinct_rollup,
    build_distinct_rollups,
    load_distinct_rollup,
)
from datafusion_uwheel_spark.operators.frequency import (
    build_frequency_rollup,
    load_frequency_rollup,
)
from datafusion_uwheel_spark.operators.quantiles import (
    build_quantile_rollup,
    load_quantile_rollup,
)
from datafusion_uwheel_spark.operators.theta import (
    build_theta_rollup,
    load_theta_rollup,
)

BASE = datetime(2024, 3, 1)
A, B = "2024-03-01 00:00:00", "2024-03-02 00:00:00"
R1 = ("2024-03-01 00:00:00", "2024-03-01 06:00:00")
R2 = ("2024-03-01 06:00:00", "2024-03-01 12:00:00")
SCHEMA = "ts timestamp, uid bigint, v double, item string"
MERGES = 6
EPS = 0.04  # KLL k=200 rank-error bracket, as in test_quantiles


def _rows(hours, salt):
    return [
        (
            BASE + timedelta(hours=h, minutes=m),
            (h * 7 + m + salt) % 60,
            float((h * 13 + m * 3 + salt) % 97),
            f"item{(h + m + salt) % 6}",
        )
        for h in hours
        for m in range(0, 60, 10)
    ]


@pytest.fixture(scope="module")
def base(spark):
    return spark.createDataFrame(_rows(range(6), 0), SCHEMA)


@pytest.fixture(scope="module")
def batches(spark):
    # each batch opens a new hour AND lands late rows in an old one
    return [
        spark.createDataFrame(_rows([5 + i, i - 1], i), SCHEMA)
        for i in range(1, MERGES + 1)
    ]


def _plan_nodes(df) -> int:
    def walk(p):
        ch = p.children()
        return 1 + sum(walk(ch.apply(i)) for i in range(ch.size()))

    return walk(df._jdf.queryExecution().analyzed())


def _frames(r):
    return [r._df] + ([r._err] if hasattr(r, "_err") else [])


def _rdd(df):
    """The RDD under a published frame's one ``LogicalRDD`` leaf."""
    return df._jdf.queryExecution().logical().rdd()


def _exact_percentile(df, q):
    return df.agg(F.expr(f"percentile(v, {q})")).collect()[0][0]


def _build(family, df):
    if family == "hll":
        return build_distinct_rollup(df, "ts", "uid")
    if family == "kll":
        return build_quantile_rollup(df, "ts", "v")
    if family == "theta":
        return build_theta_rollup(df, "ts", "uid")
    return build_frequency_rollup(df, "item", "ts", capacity=16)


def _answers(family, r):
    if family == "hll":
        return r.approx_distinct(A, B), r.distinct_rows_by("hour", A, B)
    if family == "theta":
        return r.approx_distinct(A, B), r.approx_retained(R1, R2)
    return r.topk_rows(A, B, k=10)


@pytest.mark.parametrize("family", ["hll", "kll", "theta", "frequency"])
def test_merges_stay_lineage_free(spark, base, batches, family, count_jobs):
    """Six merges: the merged frame's plan and its RDD's lineage stay as
    small as after the first (the RDD is checkpointed after every merge),
    the cache holds no more RDDs at merge 6 than at merge 2, no merge
    runs more jobs than the second did, and the answers equal a fresh
    build over the union (KLL: within the rank bound)."""
    r = _build(family, base)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    try:
        plan, lineage, rdds, jobs = [], [], [], []
        for batch in batches:
            with count_jobs() as merge_jobs:
                r.merge_batch(batch, "ts")
            jobs.append(merge_jobs.n)
            assert all(_rdd(f).isCheckpointed() for f in _frames(r))
            plan.append([_plan_nodes(f) for f in _frames(r)])
            lineage.append(
                [len(_rdd(f).toDebugString().splitlines()) for f in _frames(r)]
            )
            rdds.append(persistent().size())
        assert plan[-1] == plan[0], plan
        assert lineage[-1] == lineage[0], lineage
        assert rdds[-1] <= rdds[1], rdds
        assert max(jobs[1:]) <= jobs[1], jobs

        union = base
        for batch in batches:
            union = union.unionByName(batch)
        fresh = _build(family, union)
        try:
            if family == "kll":
                for q in (0.1, 0.5, 0.9):
                    got = r.approx_quantile(q, A, B)
                    lo = _exact_percentile(union, max(0.0, q - EPS))
                    hi = _exact_percentile(union, min(1.0, q + EPS))
                    assert lo <= got <= hi, (q, lo, got, hi)
            else:
                assert _answers(family, r) == _answers(family, fresh)
        finally:
            fresh.unpersist()
    finally:
        r.unpersist()


def test_compaction_is_lineage_free_and_counts_reclaimed_rows(base, batches):
    r = build_distinct_rollup(base, "ts", "uid")
    try:
        want = r.approx_distinct(A, B)
        r.merge_batch(batches[0], "ts")
        nodes = _plan_nodes(r._df)
        rows = r._df.count()
        cutoff = int((BASE + timedelta(hours=6)).replace(tzinfo=timezone.utc).timestamp())
        reclaimed = r.compact_before(cutoff, 3 * 3600)
        assert _plan_nodes(r._df) == nodes
        assert reclaimed == rows - r._df.count() > 0
        assert r.approx_distinct(A, B) >= want
    finally:
        r.unpersist()


def test_returned_frames_outlive_merges(base, batches):
    """A merge keeps the frame it replaced cached while a DataFrame an ask
    returned from it is alive: it still collects after two merges, equal
    to its answer before them, and the next merge after it is dropped
    releases the frame."""
    hll = build_distinct_rollup(base, "ts", "uid")
    freq = build_frequency_rollup(base, "item", "ts", capacity=16)
    try:
        old = [hll._storage(), freq._df]
        series = hll.approx_distinct_by("hour", A, B)
        top = freq.approx_topk(A, B)
        want = sorted(series.collect()), top.collect()
        for batch in batches[:2]:
            hll.merge_batch(batch, "ts")
            freq.merge_batch(batch, "ts")
        assert all(f.storageLevel.useMemory for f in old)
        assert (sorted(series.collect()), top.collect()) == want
        del series, top
        hll.merge_batch(batches[2], "ts")
        freq.merge_batch(batches[2], "ts")
        assert not any(f.storageLevel.useMemory for f in old)
    finally:
        hll.unpersist()
        freq.unpersist()


@pytest.mark.parametrize("ask", ["approx_distinct", "topk_rows"])
def test_asks_outlive_concurrent_merges(base, batches, monkeypatch, ask):
    """An ask that took its frame before two merges landed still answers,
    from the state it started on: a job-path HLL ask that selected its
    buckets, and a ``topk_rows`` whose capture has yet to collect its
    kept-rows mirror."""
    import threading

    from datafusion_uwheel_spark.operators.frequency import _Caches
    from datafusion_uwheel_spark.operators.sketch_retention import (
        SketchRetention,
    )

    family = "frequency" if ask == "topk_rows" else "hll"
    owner, name = (
        (_Caches, "err_cache") if ask == "topk_rows"
        else (SketchRetention, "_restrict")
    )
    r = _build(family, base)
    r._jvm_ops = None  # HLL: the job path reads the frame
    r.merge_batch(batches[0], "ts")
    fresh = _build(family, base.unionByName(batches[0]))
    want = getattr(fresh, ask)(A, B)
    fresh.unpersist()
    orig = getattr(owner, name)
    asked, merged = threading.Event(), threading.Event()

    def gated(self, *args):
        out = orig(self, *args)
        asked.set()
        merged.wait(120)
        return out

    monkeypatch.setattr(owner, name, gated)
    out: list = []

    def run():
        try:
            out.append(getattr(r, ask)(A, B))
        except Exception as e:  # surfaced below
            out.append(e)

    t = threading.Thread(target=run)
    t.start()
    try:
        assert asked.wait(120)
        for batch in batches[1:3]:
            r.merge_batch(batch, "ts")
    finally:
        merged.set()
        t.join(timeout=120)
        r.unpersist()
    assert out == [want]


def test_dropped_cache_marks_the_rollup_stale(spark, base, batches):
    """``spark.catalog.clearCache()`` drops the only copy of a rollup: the
    next read that needs it marks the rollup stale — the router delegates,
    a streaming batch carries on — and asks and merges then refuse with
    the stale error."""
    from datafusion_uwheel_spark import WheelEngine
    from datafusion_uwheel_spark.streaming.maintenance import (
        StreamingWheelMaintainer,
    )

    base.createOrReplaceTempView("lifecycle")
    eng = WheelEngine(
        spark, "lifecycle", base, time_column="ts", approx_routing=True
    )
    eng.build_distinct_index("uid")
    eng.build_quantile_index("v")
    hll = eng.distinct_rollups["uid"]
    hll._jvm_ops = None  # job path: the ask reads the cached frame
    freq = build_frequency_rollup(base, "item", "ts", capacity=16)
    freq.merge_batch(batches[0], "ts")  # a capture with mirrors to collect
    sql = (
        "SELECT approx_count_distinct(uid) FROM lifecycle "
        f"WHERE ts >= '{A}' AND ts < '{B}'"
    )
    spark.catalog.clearCache()
    got = eng.sql(sql).collect()
    assert eng.last_route.kind == "delegate"
    assert got == spark.sql(sql).collect()
    assert hll.stale
    StreamingWheelMaintainer(eng).merge_batch(batches[1])
    assert eng.quantile_rollups["v"].stale
    with pytest.raises(RuntimeError, match="STALE"):
        hll.approx_distinct(A, B)
    with pytest.raises(RuntimeError, match="STALE"):
        hll.merge_batch(batches[1], "ts")
    with pytest.raises(RuntimeError, match="STALE"):
        freq.topk_rows(A, B)
    assert freq.stale


def _has_sketch_ops(spark) -> bool:
    try:
        return spark._jvm.io.uwheel.spark.UwheelSketchOps.ping() == 1
    except Exception:
        return False


def test_multi_column_build_warms_mirrors(spark, base, count_jobs):
    """Every handle of a one-pass multi-column build answers its first
    direct ask with zero Spark jobs — the build warms each mirror."""
    if not _has_sketch_ops(spark):
        pytest.skip("shim jar absent: direct asks take the job path")
    rollups = build_distinct_rollups(base, "ts", ["uid", "item"])
    try:
        with count_jobs() as jobs:
            got = {c: h.approx_distinct(A, B) for c, h in rollups.items()}
        assert jobs.n == 0
        assert got["item"] == 6
    finally:
        for h in rollups.values():
            h.unpersist()


#: meta keys every family saves
COMMON = {"column", "bucket_seconds", "key_column", "tiers", "stale_reason"}
#: family → (load, meta file, its own meta keys, parquet dirs and columns)
SAVED = {
    "hll": (load_distinct_rollup, "_distinct_meta.json", {"lg_k"},
            {"": ["__sec", "__hll"]}),
    "kll": (load_quantile_rollup, "_quantile_meta.json", {"k", "suffix"},
            {"": ["__sec", "__kll"]}),
    "theta": (load_theta_rollup, "_theta_meta.json", {"lg_k"},
              {"": ["__sec", "__theta"]}),
    "frequency": (load_frequency_rollup, "_frequency_meta.json",
                  {"capacity", "max_keys"},
                  {"kept": ["__sec", "__item", "cnt"], "err": ["__sec", "err"]}),
}


@pytest.mark.parametrize("family", sorted(SAVED))
def test_saved_format_is_pinned(spark, base, tmp_path, family):
    """The saved meta's file name and key set, and the parquet columns,
    of every family — a reload of an older save must keep working."""
    load, meta_file, keys, layout = SAVED[family]
    r = _build(family, base)
    path = str(tmp_path / family)
    try:
        r.save(path)
    finally:
        r.unpersist()
    with open(os.path.join(path, meta_file)) as f:
        assert set(json.load(f)) == COMMON | keys
    for sub, cols in layout.items():
        assert spark.read.parquet(os.path.join(path, sub)).columns == cols
    loaded = load(spark, path)
    try:
        assert loaded._df.count() > 0
    finally:
        loaded.unpersist()
