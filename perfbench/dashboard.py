"""``dashboard``: read-only routed asks over the events table.

Each round issues one new SQL text per shape, in a seeded order, through
the three surfaces a user has — ``WheelEngine.sql_rows``,
``WheelEngine.sql(q).collect()`` and plain ``spark.sql(q).collect()`` with
the Catalyst shim registered — followed by one direct ask per sketch
family over fresh hour-aligned ranges. No text or range repeats, so no
answer memo hits. Light class: ``rows``; heavy class: ``shim``.
"""

from __future__ import annotations

import os
import random
import time

import checks
import datagen
import harness

KEY_FILTER = "event_type = 'click'"
#: Any single ask slower than this counts as failed.
DEADLINE_S = 10.0
#: Input rounds generated up front; a run stops early if it uses them all.
MAX_ROUNDS = 500
#: Untimed warm-up after set-up, seconds, on rounds of its own.
WARMUP_S = 5.0
WARMUP_ROUNDS = 200
#: Asks per sketch family per round, and texts per shape per round that go
#: through ``sql_rows`` only: each costs 0.2-5 ms against ~0.7 s for a
#: round's three-surface texts, and its cost follows the range length, so
#: with one per round a class's median rode on ~15 draws.
SKETCH_ASKS = 4
ROWS_ONLY = 4

SHAPES = {
    "count": "SELECT COUNT(*) AS n FROM events WHERE ts >= '{a}' AND ts < '{b}'",
    "sum": "SELECT SUM(value) AS s FROM events WHERE ts >= '{a}' AND ts < '{b}'",
    "keyed_sum": (
        "SELECT SUM(value) AS s FROM events WHERE ts >= '{a}' AND ts < '{b}' "
        f"AND {KEY_FILTER}"
    ),
    "hour_groupby": (
        "SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n, SUM(value) AS s "
        "FROM events WHERE ts >= '{a}' AND ts < '{b}' "
        "GROUP BY date_trunc('hour', ts)"
    ),
    "dim_groupby": (
        "SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n, "
        "SUM(value) AS s FROM events WHERE ts >= '{a}' AND ts < '{b}' "
        "GROUP BY date_trunc('hour', ts), event_type"
    ),
}
#: (shortest, longest) range per shape, seconds: group-bys stay within two
#: days so a dim answer is at most a few hundred rows.
LENGTHS = {
    "count": (600, 3 * 86400),
    "sum": (600, 3 * 86400),
    "keyed_sum": (600, 3 * 86400),
    "hour_groupby": (3600, 2 * 86400),
    "dim_groupby": (3600, 2 * 86400),
}
SPAN_START = datagen.SPAN_START_US // 1_000_000
SPAN_END = SPAN_START + datagen.SPAN_DAYS * 86400


def stamp(sec: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(sec))


def _range(rng, align: int, lo: int, hi: int, room: int = 1) -> tuple[int, int]:
    """An aligned range of ``lo..hi`` seconds with ``room`` times its
    length still inside the span after its start."""
    length = max(align, rng.randrange(lo, hi) // align * align)
    a = SPAN_START + rng.randrange(0, SPAN_END - room * length - SPAN_START) // align * align
    return a, a + length


def inputs(seed: int, rounds: int = MAX_ROUNDS) -> list[dict]:
    """Every text and sketch ask of a run, from the seed alone. Each round
    holds one text per shape for all three surfaces (seeded order, second-
    or minute-aligned bounds), :data:`ROWS_ONLY` more per shape for
    ``sql_rows`` alone, and :data:`SKETCH_ASKS` asks per sketch family
    (hour-aligned bounds; a theta ask compares a range with the equally
    long range that follows it)."""
    rng = random.Random(f"dashboard-{seed}")
    seen: set = set()

    def fresh(align, lo, hi, room=1):
        while True:
            r = _range(rng, align, lo, hi, room)
            if (align, room, r) not in seen:
                seen.add((align, room, r))
                return r

    def hours():
        return tuple(map(stamp, fresh(3600, 3600, 4 * 86400)))

    out = []
    for _ in range(rounds):
        order = list(SHAPES)
        rng.shuffle(order)
        texts = []
        for shape in order:
            a, b = fresh(rng.choice((1, 60)), *LENGTHS[shape])
            texts.append((shape, SHAPES[shape].format(a=stamp(a), b=stamp(b))))
        rows_only = []
        for shape in order * ROWS_ONLY:
            a, b = fresh(rng.choice((1, 60)), *LENGTHS[shape])
            rows_only.append((shape, SHAPES[shape].format(a=stamp(a), b=stamp(b))))
        asks: dict = {"distinct": [], "quantile": [], "theta": [], "topk": []}
        for _ in range(SKETCH_ASKS):
            a1, b1 = fresh(3600, 3600, 2 * 86400, room=2)
            asks["distinct"].append(hours())
            asks["quantile"].append((rng.choice((0.5, 0.9, 0.99)), *hours()))
            asks["theta"].append(((stamp(a1), stamp(b1)), (stamp(b1), stamp(2 * b1 - a1))))
            asks["topk"].append((3, *hours()))
        out.append({"texts": texts, "rows_only": rows_only, **asks})
    return out


def setup(h, spark, path: str):
    """Engine, three numeric builds, four sketch builds, shim views."""
    from datafusion_uwheel_spark import WheelEngine, jvmshim

    with h.phase("ctor"):
        eng = WheelEngine(spark, "events", path, time_column="ts")
    with h.phase("rollups"):
        eng.build_index("value")
        eng.build_index("value", filter=KEY_FILTER)
        eng.build_partitioned_index("value", partition_by="event_type")
    with h.phase("sketch"):
        eng.build_distinct_index("user_id")
        eng.build_quantile_index("value")
        eng.build_theta_index("user_id")
        eng.build_topk_index("event_type")
    with h.phase("jvmshim"):
        views = h.path("shim")
        jvmshim.register_count_rollup(spark, eng, storage_dir=views)
        jvmshim.register_agg_rollup(spark, eng, "value", storage_dir=views)
        jvmshim.register_keyed_agg_rollup(
            spark, eng, "value", KEY_FILTER, storage_dir=views
        )
        jvmshim.register_dim_rollup(spark, eng, "event_type", storage_dir=views)
    return eng


def round_ops(h, spark, eng, oracle, rnd, want: dict) -> list:
    """One round as ``(class, call, check)`` triples; ``check(answer)``
    returns ``None`` or why the answer is wrong."""
    tr = h.tracer

    def df_collect(q):
        d = eng.sql(q)
        with tr.span("materialize.collect"):
            return d.collect()

    def shim(q):
        with tr.span("shim.sql"):
            d = spark.sql(q)
        with tr.span("shim.collect"):
            return d.collect()

    def check_text(q, surface):
        def check(got):
            if q not in want:
                want[q] = oracle.rows(q)
            return checks.compare_rows(got, want[q], f"{surface} {q}")
        return check

    ops = [
        (f"rows.{shape}", lambda q=q: eng.sql_rows(q), check_text(q, "rows"))
        for shape, q in rnd["rows_only"]
    ]
    for shape, q in rnd["texts"]:
        ops += [
            (f"rows.{shape}", lambda q=q: eng.sql_rows(q), check_text(q, "rows")),
            (f"df.{shape}", lambda q=q: df_collect(q), check_text(q, "df")),
            (f"shim.{shape}", lambda q=q: shim(q), check_text(q, "shim")),
        ]
    topk = eng.topk_rollups["event_type"]
    for (d_a, d_b), (q_q, q_a, q_b), (r1, r2), (k, t_a, t_b) in zip(
        rnd["distinct"], rnd["quantile"], rnd["theta"], rnd["topk"]
    ):
        ops += [
            ("sketch.distinct", lambda a=d_a, b=d_b: eng.approx_distinct("user_id", a, b),
             lambda est, a=d_a, b=d_b: checks.check_distinct(oracle, est, a, b)),
            ("sketch.quantile",
             lambda q=q_q, a=q_a, b=q_b: eng.approx_quantile("value", q, a, b),
             lambda est, q=q_q, a=q_a, b=q_b: checks.check_quantile(oracle, est, q, a, b)),
            ("sketch.theta", lambda r1=r1, r2=r2: eng.approx_retained("user_id", r1, r2),
             lambda est, r1=r1, r2=r2: checks.check_retained(oracle, est, r1, r2)),
            ("sketch.topk", lambda k=k, a=t_a, b=t_b: topk.topk_rows(a, b, k=k),
             lambda got, k=k, a=t_a, b=t_b: checks.check_topk(oracle, got, k, a, b)),
        ]
    return ops


def run(h) -> dict:
    a = h.args
    h.pin_environment(shim=True)
    path = datagen.write_inputs(h.path("inputs"), a.seed, n_events=a.events)["events"]
    rounds = inputs(a.seed, MAX_ROUNDS + WARMUP_ROUNDS)
    rounds, warmup = rounds[:MAX_ROUNDS], rounds[MAX_ROUNDS:]
    spark = h.start_session()
    oracle = checks.Oracle(path)
    want: dict = {}
    eng = h.setup(lambda: setup(h, spark, path))
    harness.patch_layers(h)

    # untimed rounds on texts and ranges of their own (no memo can carry
    # over) until the JVM has compiled the ask paths
    t0 = time.perf_counter()
    for rnd in warmup:
        if time.perf_counter() - t0 > WARMUP_S:
            break
        for _cls, call, _check in round_ops(h, spark, eng, oracle, rnd, {}):
            call()
    h.notes["warmup_s"] = time.perf_counter() - t0

    # once per shape: the shim must have rewritten the plan off the table
    scan = os.path.basename(path)
    probe = inputs(a.seed + 1_000_003, 1)[0]["texts"]
    for shape, q in probe:
        h.attempted += 1
        plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
        if scan in plan:
            h.fail(f"shim: {shape} plan still scans {scan}")

    end = time.perf_counter() + a.seconds
    n = 0
    while time.perf_counter() < end and n < len(rounds):
        h.start_round(n)
        for cls, call, check in round_ops(h, spark, eng, oracle, rounds[n], want):
            ok, got = h.call(cls, call, DEADLINE_S)
            if ok:
                h.check(check, got)
        n += 1
    h.tracer.uninstall()
    h.notes["rounds"] = n

    named = {}
    for cls, unit in (("rows", "us"), ("df", "ms"), ("shim", "ms"), ("sketch", "ms")):
        st = harness.class_stats(h, cls)
        scale = 1e3 if unit == "us" else 1.0
        for k, v in st.items():
            if k != "n":
                named[f"{cls}_{k[:-3]}_{unit}"] = v * scale
    return harness.finish(h, "rows", "shim", ["rows", "df", "shim", "sketch"], named)
