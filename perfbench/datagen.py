"""Seeded input tables for the benchmark.

The benchmark reads nothing outside its checkout, so it writes its own
``events`` and ``documents`` parquet files from ``--seed``. Both follow
the shape of the repository's sf0.1 test data (100,000 events and 5,000
documents; ``perfbench/README.md`` lists the measured figures):

- ``events``: ``ts`` (naive microseconds) uniform from 2024-01-01; at
  the bench scale about 139 rows per hour and 1,500 users; five equally
  likely ``event_type`` values; ``value`` exponential with mean 50,
  rounded to cents. The span is 15 days where sf0.1 has 30 (50,000 rows
  where it has 100,000): a dashboard run over the full span fitted half
  the rounds in its seconds, and the time budget of a full sweep has no
  room for longer runs;
- ``documents``: 10-99 words from a 30-word vocabulary; 41% ``en`` and the
  rest spread over four languages; one document in twenty, at seeded
  positions, is a copy of another with `` dup`` appended.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The events span: the first half of January 2024, at the rows per hour
#: of the repository's sf0.1 test data.
SPAN_START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
SPAN_DAYS = 15
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_SHARES = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
#: Share of documents that are a copy of another plus `` dup``.
DUP_SHARE = 0.05


def events_table(n_events: int, seed: int) -> pa.Table:
    """``n_events`` rows spread uniformly over :data:`SPAN_DAYS` days, in
    time order; ``user_id`` has one distinct value per ~33 events, so a
    range holds as many distinct users as the same range of sf0.1."""
    rng = np.random.default_rng([seed, 1])
    span_us = SPAN_DAYS * 86_400 * 1_000_000
    ts = np.sort(SPAN_START_US + rng.integers(0, span_us, n_events))
    n_users = max(15, n_events * 3 // 100)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events)),
            "event_type": pa.array(
                np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
            ),
        }
    )


def documents_table(n_docs: int, seed: int) -> pa.Table:
    """``n_docs`` documents of 10-99 vocabulary words; a seeded
    :data:`DUP_SHARE` of them copy another document and append ``dup``, so
    the near-duplicate passes have work to find."""
    rng = np.random.default_rng([seed, 2])
    texts = [
        " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
        for _ in range(n_docs)
    ]
    n_dup = round(n_docs * DUP_SHARE)
    picks = rng.permutation(n_docs)
    for dup, orig in zip(picks[:n_dup], picks[n_dup:]):
        texts[dup] = texts[orig] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(
                [LANGS[j] for j in rng.choice(len(LANGS), n_docs, p=LANG_SHARES)]
            ),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def write_inputs(out_dir: str, seed: int, n_events: int = 0, n_docs: int = 0) -> dict:
    """Write the tables asked for (a zero count skips one) under
    ``out_dir``; returns ``{name: path}``."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    if n_events:
        paths["events"] = os.path.join(out_dir, "events.parquet")
        pq.write_table(events_table(n_events, seed), paths["events"])
    if n_docs:
        paths["documents"] = os.path.join(out_dir, "documents.parquet")
        pq.write_table(documents_table(n_docs, seed), paths["documents"])
    return paths
