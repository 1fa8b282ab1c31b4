"""``ingest``: what arriving data costs — stream merges beside the
dashboard's reads, then the near-duplicate passes over arriving documents.

The engine is built over the events before :data:`CUT` with the ``value``
wheel and the HLL distinct rollup on ``user_id``, and a
``StreamingWheelMaintainer`` is attached. The first :data:`N_BATCHES`
micro-batches after the cut are replayed in time order, each two to four
hours of traffic (seeded boundaries) and prepared before its merge is
timed. After every ``merge_batch`` the same fixed dashboard of texts is
re-asked through ``sql_rows`` — parse memo warm, answer memo invalidated by
the epoch bump — plus one ``approx_distinct``. Then the MinHash pair pass
and the fuzzy decontamination pass run over the documents table
(:mod:`llm_dedup`). Light class: ``read``; heavy class: ``merge``.

The batch count is fixed, so the n-th merge of one run compares with the
n-th merge of another: merge cost grows with the number of merges (see
``perfbench/README.md``), and a count set by the clock would move the
merge median with the speed of everything else. ``--seconds`` caps the
merge phase at :data:`PHASE_CAP` times its value; a batch not merged by
then counts as failed. A merge slower than :data:`MERGE_DEADLINE_S`
counts as failed and the sketch rollups are marked stale through their
public ``mark_stale``, so a merge cost that keeps growing ends the sketch
merges instead of the run; the asks that follow on a stale rollup count as
failed too.
"""

from __future__ import annotations

import itertools
import random
import time

import checks
import datagen
import harness
import llm_dedup
from dashboard import stamp

CUT_SEC = datagen.SPAN_START_US // 1_000_000 + 7 * 86400
CUT = stamp(CUT_SEC)
SPAN_END = datagen.SPAN_START_US // 1_000_000 + datagen.SPAN_DAYS * 86400
MERGE_DEADLINE_S = 10.0
DEADLINE_S = 10.0
#: Batches merged per run: one day of traffic at the mean batch length of
#: three hours.
N_BATCHES = 8
#: The merge phase may take this many times ``--seconds``; the 8 merges
#: with their re-asks take 6-9 s on a 4-core machine.
PHASE_CAP = 2.0
N_TEXTS = 64
#: Every re-asked text spans this many hours (seeded, minute-aligned
#: starts): a group-by answer's cost follows the hours it covers that hold
#: data, and with seeded lengths, or texts lying past the merged data, one
#: seed's 16 group-by texts cost several times another's.
TEXT_HOURS = 24
#: Untimed merge rounds on the first set-up's engine, which is then
#: dropped: the JVM compiles the merge and ask paths there.
WARMUP_BATCHES = 2

SHAPES = {
    "count": "SELECT COUNT(*) AS n FROM events WHERE ts >= '{a}' AND ts < '{b}'",
    "sum": "SELECT SUM(value) AS s FROM events WHERE ts >= '{a}' AND ts < '{b}'",
    "avg": "SELECT AVG(value) AS m FROM events WHERE ts >= '{a}' AND ts < '{b}'",
    "hour_groupby": (
        "SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n, SUM(value) AS s "
        "FROM events WHERE ts >= '{a}' AND ts < '{b}' "
        "GROUP BY date_trunc('hour', ts)"
    ),
}


def inputs(seed: int) -> dict:
    """Batch boundaries, the fixed dashboard and the distinct asks. Half
    the texts straddle :data:`CUT`, so their answers grow as the first
    batches merge."""
    rng = random.Random(f"ingest-{seed}")
    bounds = [CUT_SEC]
    for _ in range(N_BATCHES):
        bounds.append(bounds[-1] + rng.randrange(120, 241) * 60)
    texts = []
    shapes = [s for s in SHAPES for _ in range(N_TEXTS // len(SHAPES))]
    rng.shuffle(shapes)
    span = TEXT_HOURS * 3600
    for i, shape in enumerate(shapes):
        if i % 2:  # straddles the cut: part indexed at set-up, part merged
            lo, hi = CUT_SEC - span + 3600, CUT_SEC - 3600
        else:
            lo, hi = datagen.SPAN_START_US // 1_000_000, CUT_SEC - span
        a = rng.randrange(lo, hi) // 60 * 60
        texts.append((shape, SHAPES[shape].format(a=stamp(a), b=stamp(a + span))))
    first_hour = datagen.SPAN_START_US // 1_000_000 // 3600
    distinct = [
        stamp(rng.randrange(first_hour, CUT_SEC // 3600) * 3600)
        for _ in range(N_BATCHES)
    ]
    return {"bounds": [stamp(b) for b in bounds], "texts": texts, "distinct": distinct}


def setup(h, spark, path: str, docs_path: str, residue: int, planted: dict):
    """Engine over the early events, ``value`` wheel, HLL rollup, the
    maintainer, and the documents."""
    from pyspark.sql import functions as F

    from datafusion_uwheel_spark import WheelEngine
    from datafusion_uwheel_spark.sources import read_parquet
    from datafusion_uwheel_spark.streaming.maintenance import StreamingWheelMaintainer

    with h.phase("ctor"):
        early = read_parquet(spark, path).filter(
            F.col("ts") < F.lit(CUT).cast("timestamp")
        )
        eng = WheelEngine(spark, "events", early, time_column="ts")
    with h.phase("rollups"):
        eng.build_index("value")
    with h.phase("sketch"):
        eng.build_distinct_index("user_id")
    corpus = {**llm_dedup.load(h, spark, docs_path, residue), **planted}
    return eng, StreamingWheelMaintainer(eng), corpus


def batches(spark, path: str, bounds: list[str]):
    """Yield one DataFrame per micro-batch, built from the generated rows
    before its merge is timed (no scan of the source file inside a
    merge)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_uwheel_spark.sources import read_parquet

    schema = read_parquet(spark, path).schema
    table = pq.read_table(path)
    ts = table.column("ts").to_numpy()
    for lo, hi in zip(bounds, bounds[1:]):
        mask = (ts >= np.datetime64(lo)) & (ts < np.datetime64(hi))
        part = table.filter(pa.array(mask))
        yield spark.createDataFrame(part.to_pandas(), schema), part.num_rows


def run(h) -> dict:
    a = h.args
    h.pin_environment(shim=False)
    paths = datagen.write_inputs(h.path("inputs"), a.seed, n_events=a.events, n_docs=a.docs)
    path = paths["events"]
    inp = inputs(a.seed)
    residue = llm_dedup.inputs(a.seed)["residue"]
    planted = llm_dedup.planted(paths["documents"])
    spark = h.start_session()

    def warm(first):
        w_eng, w_maint, _corpus = first
        for df, _n in itertools.islice(batches(spark, path, inp["bounds"]), WARMUP_BATCHES):
            w_maint.merge_batch(df)
            for _shape, q in inp["texts"]:
                w_eng.sql_rows(q)
            w_eng.approx_distinct("user_id", inp["distinct"][0], stamp(SPAN_END))

    eng, maint, corpus = h.setup(
        lambda: setup(h, spark, path, paths["documents"], residue, planted), warm
    )
    harness.patch_layers(h)
    oracle = checks.Oracle(path)

    def check_read(k, q, got):
        """An answer after merge ``k`` against the events before its end."""
        oracle.cut(inp["bounds"][k + 1])
        return checks.compare_rows(got, oracle.rows(q), f"after batch {k}: {q}")

    def check_distinct(k, start, est):
        oracle.cut(inp["bounds"][k + 1])
        reason = checks.check_distinct(oracle, est, start, stamp(SPAN_END))
        return reason and f"after batch {k}: {reason}"

    merged_rows = 0
    end = time.perf_counter() + PHASE_CAP * a.seconds
    for i, (df, n_rows) in enumerate(batches(spark, path, inp["bounds"])):
        if time.perf_counter() > end:
            h.attempted += 1
            h.fail(f"merge: batch {i} not reached within {PHASE_CAP * a.seconds:g} s")
            continue
        h.start_round(i)
        ok, _ = h.call("merge", lambda: maint.merge_batch(df), MERGE_DEADLINE_S)
        merged_rows += n_rows
        if not ok:
            for rollup in eng.distinct_rollups.values():
                if not rollup.stale:
                    rollup.mark_stale("merge missed the benchmark deadline")
        for shape, q in inp["texts"]:
            ok, got = h.call(f"read.{shape}", lambda: eng.sql_rows(q), DEADLINE_S)
            if ok:
                h.check(check_read, i, q, got)
        start = inp["distinct"][i]
        ok, est = h.call(
            "distinct",
            lambda: eng.approx_distinct("user_id", start, stamp(SPAN_END)),
            DEADLINE_S,
        )
        if ok:
            h.check(check_distinct, i, start, est)
    h.start_round(1)  # the passes below are traced in a traced run
    llm = llm_dedup.run_passes(h, corpus)
    h.tracer.uninstall()

    merge_s = sum(h.samples("merge", None))
    h.notes.update({"batches": N_BATCHES, **llm})
    named = {
        **{f"ingest_read_{k[:-3]}_us": v * 1e3
           for k, v in harness.class_stats(h, "read").items() if k != "n"},
        "merge_p50_ms": harness.class_p50(h, "merge") * 1e3 if h.samples("merge") else 0.0,
        "merge_ms_by_batch": [round(t * 1e3, 1) for t in h.samples("merge", None)],
        "ingest_rows_per_s": merged_rows / merge_s if merge_s else 0.0,
        "dedup_s": harness.class_stats(h, "dedup").get("p50_ms", 0.0) / 1e3,
        "decontam_s": harness.class_stats(h, "decontam").get("p50_ms", 0.0) / 1e3,
    }
    return harness.finish(
        h, "read", "merge", ["read", "distinct", "merge", "dedup", "decontam"], named
    )
