"""Self-tests of the benchmark's own helpers, plus a small-scale run of
each workload with every answer check on.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import dashboard  # noqa: E402
import datagen  # noqa: E402
import ingest  # noqa: E402
import llm_dedup  # noqa: E402
import stats  # noqa: E402
from spans import self_times  # noqa: E402


def test_same_seed_same_inputs():
    assert datagen.events_table(2000, 7).equals(datagen.events_table(2000, 7))
    assert datagen.documents_table(300, 7).equals(datagen.documents_table(300, 7))
    assert not datagen.events_table(2000, 7).equals(datagen.events_table(2000, 8))
    assert dashboard.inputs(7, 20) == dashboard.inputs(7, 20)
    assert dashboard.inputs(7, 20) != dashboard.inputs(8, 20)
    assert ingest.inputs(7) == ingest.inputs(7)
    assert ingest.inputs(7)["bounds"] != ingest.inputs(8)["bounds"]
    assert llm_dedup.inputs(7) == llm_dedup.inputs(7)


def test_dashboard_texts_are_fresh():
    rounds = dashboard.inputs(3, 200)
    texts = [q for r in rounds for _, q in r["texts"] + r["rows_only"]]
    assert len(texts) == len(set(texts))
    # every round carries each shape once
    assert all(sorted(s for s, _ in r["texts"]) == sorted(dashboard.SHAPES) for r in rounds)
    ranges = [a for r in rounds for a in r["distinct"]]
    assert len(ranges) == len(set(ranges)) == 200 * dashboard.SKETCH_ASKS


def test_ingest_merges_a_fixed_count_of_batches_after_the_cut():
    for seed in range(20):
        b = ingest.inputs(seed)["bounds"]
        assert len(b) == ingest.N_BATCHES + 1 and b[0] == ingest.CUT
        assert b == sorted(b) and len(b) == len(set(b))
        assert b[-1] < dashboard.stamp(ingest.SPAN_END)


def test_documents_carry_the_test_data_duplicate_share():
    texts = datagen.documents_table(2000, 3).column("text").to_pylist()
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(dups) == 2000 * datagen.DUP_SHARE
    assert all(t[: -len(" dup")] in texts for t in dups)


def test_nearest_rank_quantiles():
    xs = list(range(1, 101))
    assert stats.quantile(xs, 0.5) == 50
    assert stats.quantile(xs, 0.99) == 99
    assert stats.quantile(xs, 1.0) == 100
    assert stats.quantile(xs, 0.0) == 1
    assert stats.quantile([3.0], 0.9) == 3.0
    assert stats.quantile([5, 1, 4, 2, 3], 0.5) == 3
    assert stats.quantile([1, 2, 3, 4], 0.5) == 2  # an observed sample
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)


def test_tail_quantile_keeps_ten_samples_beyond():
    assert stats.tail_quantile(1000) == 0.99
    assert stats.tail_quantile(100) == 0.9
    assert stats.tail_quantile(45) == 0.75
    assert stats.tail_quantile(20) is None


def test_span_self_time_subtracts_covered_child_time():
    spans = [
        ["router", 0.0, 10.0, -1, "op1", None],
        ["lookup", 1.0, 3.0, 0, "op1", None],
        ["lookup", 2.0, 4.0, 0, "op1", None],  # overlaps its sibling
        ["materialize", 8.0, 12.0, 0, "op1", None],  # runs past its parent
        ["inner", 1.5, 2.5, 1, "op1", None],
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 3.0 - 2.0)
    assert selfs[1] == pytest.approx(2.0 - 1.0)
    assert selfs[2] == pytest.approx(2.0)
    assert selfs[4] == pytest.approx(1.0)


@pytest.mark.parametrize(
    "workload,trace",
    [("dashboard", 0), ("ingest", 0), ("dashboard", 1), ("ingest", 1)],
)
def test_smoke_run(workload, trace):
    """A full run at the repository's sf0.001 size: every answer checked,
    every metric of BENCHMARK.json printed."""
    root = os.path.dirname(BENCH)
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "11", "--seconds", "5", "--trace", str(trace), "--scale", "smoke"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out.stdout[-3000:]
    assert result["attempted"] >= 1
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = spec["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_without_the_program(tmp_path):
    """Beside nothing but its own files the benchmark exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
