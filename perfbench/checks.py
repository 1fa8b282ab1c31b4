"""Answer checks against DuckDB over the same parquet file.

Each check returns ``None`` when the answer is right and a one-line reason
when it is not. COUNTs must match exactly; floating SUM/AVG compare with a
relative tolerance (summation order differs between engines); sketch
answers must fall within their family's documented error bound.
"""

from __future__ import annotations

import math
from datetime import datetime

import duckdb

#: Relative tolerance for floating aggregates.
REL_TOL = 1e-9
#: HLL / theta at lg_k=12: 1.6% standard error, checked at three sigma.
SKETCH_REL_ERR = 0.05
#: KLL at k=200: the rank error allowed around the asked quantile.
KLL_RANK_ERR = 0.04


class Oracle:
    """DuckDB over the events parquet, optionally cut at a time bound
    (what an engine that has merged only earlier batches can see)."""

    def __init__(self, events_path: str):
        self.path = events_path
        self.con = duckdb.connect()
        self.upper = ""
        self.cut(None)

    def cut(self, upper: str | None) -> None:
        if upper == self.upper:
            return
        self.upper = upper
        where = f" WHERE ts < TIMESTAMP '{upper}'" if upper else ""
        self.con.execute(
            "CREATE OR REPLACE VIEW events AS SELECT * FROM "
            f"read_parquet('{self.path}'){where}"
        )

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]


def _norm(v):
    if isinstance(v, datetime) and v.tzinfo is not None:
        return v.replace(tzinfo=None)
    return v


def _same(a, b) -> bool:
    a, b = _norm(a), _norm(b)
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    return a == b


def _key(row) -> tuple:
    return tuple(str(_norm(v)) for v in row if not isinstance(v, float))


def compare_rows(got, want, label: str) -> str | None:
    """Rows as sets keyed by their non-float columns (group-by answers
    carry no ORDER BY)."""
    got = sorted((tuple(r) for r in got), key=_key)
    want = sorted((tuple(r) for r in want), key=_key)
    if len(got) != len(want):
        return f"{label}: {len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return f"{label}: row {g!r}, expected {w!r}"
    return None


def within(est, exact, rel: float, label: str) -> str | None:
    if abs(est - exact) <= rel * max(exact, 1) + 2:
        return None
    return f"{label}: {est} outside {rel:.0%} of {exact}"


def check_distinct(oracle: Oracle, est, a: str, b: str) -> str | None:
    exact = oracle.scalar(
        "SELECT COUNT(DISTINCT user_id) FROM events "
        f"WHERE ts >= '{a}' AND ts < '{b}'"
    )
    return within(est, exact, SKETCH_REL_ERR, f"approx_distinct [{a}, {b})")


def check_quantile(oracle: Oracle, est, q: float, a: str, b: str) -> str | None:
    """``est`` must be a value whose rank in the range is within the KLL
    rank error of ``q``: at most ``q + err`` of the values lie below it and
    at least ``q - err`` at or below it. An empty range answers NULL."""
    if est is None:
        n = oracle.scalar(f"SELECT COUNT(value) FROM events WHERE ts >= '{a}' AND ts < '{b}'")
        return None if n == 0 else f"approx_quantile [{a}, {b}): NULL over {n} values"
    below, at_or_below = oracle.rows(
        f"SELECT avg(CAST(value < {float(est)!r} AS DOUBLE)), "
        f"avg(CAST(value <= {float(est)!r} AS DOUBLE)) "
        f"FROM events WHERE ts >= '{a}' AND ts < '{b}' AND value IS NOT NULL"
    )[0]
    if below is None or not (below - KLL_RANK_ERR <= q <= at_or_below + KLL_RANK_ERR):
        return (
            f"approx_quantile q={q} [{a}, {b}): {est} has rank "
            f"[{below}, {at_or_below}]"
        )
    return None


def check_retained(oracle: Oracle, est, r1, r2) -> str | None:
    def users(r):
        return (
            f"SELECT DISTINCT user_id FROM events "
            f"WHERE ts >= '{r[0]}' AND ts < '{r[1]}'"
        )

    both = oracle.scalar(f"SELECT COUNT(*) FROM ({users(r1)} INTERSECT {users(r2)})")
    union = oracle.scalar(f"SELECT COUNT(*) FROM ({users(r1)} UNION {users(r2)})")
    if abs(est - both) <= SKETCH_REL_ERR * union + 2:
        return None
    return f"approx_retained {r1} {r2}: {est}, exact {both} of {union}"


def check_topk(oracle: Oracle, got, k: int, a: str, b: str) -> str | None:
    """The frequency rollup keeps more counters than ``event_type`` has
    values, so its top-k is exact: each returned count must be the true
    count, and the counts must be the k largest."""
    exact = dict(oracle.rows(
        "SELECT event_type, COUNT(*) FROM events "
        f"WHERE ts >= '{a}' AND ts < '{b}' GROUP BY event_type"
    ))
    label = f"topk_rows [{a}, {b})"
    for item, est, upper in got:
        if not est == exact.get(item) == upper:
            return f"{label}: {item} counted {est}..{upper}, exact {exact.get(item)}"
    want = sorted(exact.values(), reverse=True)[:k]
    if sorted((est for _, est, _ in got), reverse=True) != want:
        return f"{label}: counts {[e for _, e, _ in got]}, expected top {want}"
    return None
