"""The near-duplicate passes of the ``ingest`` workload.

The MinHash LSH candidate-pair pass (``with_minhash_signature`` →
``lsh_candidate_pairs(min_est_jaccard=0.35)`` → ``count``) and the fuzzy
decontamination pass (``with_contamination_fuzzy`` against 400-character
snippets of the documents whose ``doc_id % 7`` equals a seeded residue).
Both are Spark jobs over Python kernels; the router and the wheels sit
idle.

Each pass runs :data:`SAMPLES` times, measured, on Python workers started
during set-up; the first sample also compiles the pass's plans, and the
median leaves it out when it is the slowest. Every sample's counts must equal the first
sample's, with at least half the planted copies paired and half the
snippet sources flagged; on a corpus of at most :data:`ORACLE_MAX_DOCS`
documents they must also equal DuckDB's over the same parquet
(``oracles.minhash_lsh_sql`` and ``oracles.lsh_join_sql``, the
repository's own reference SQL for both operators).
"""

from __future__ import annotations

import random

DEADLINE_S = 60.0
#: Measured samples of each pass per run; ``dedup_s`` and ``decontam_s``
#: are their medians.
SAMPLES = 3
#: Up to this many documents the counts are also checked against DuckDB
#: running the repository's reference SQL; its MinHash spelling expands
#: every shingle under every permutation, and at 5,000 documents the two
#: checks took 65 s on a 4-core machine, more than a run's whole budget.
ORACLE_MAX_DOCS = 500
SNIPPET_CHARS = 400
PAIR_JACCARD = 0.35
DECON_JACCARD = 0.5


def inputs(seed: int) -> dict:
    """The snippet sources: documents with ``doc_id % 7 == residue``."""
    return {"residue": random.Random(f"llm_dedup-{seed}").randrange(7)}


def planted(path: str) -> dict:
    """What the generated corpus holds, read beside the program: its
    document count and how many documents copy another."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    text = pq.read_table(path, columns=["text"]).column("text")
    return {
        "n_docs": len(text),
        "n_copies": pc.sum(pc.ends_with(text, " dup")).as_py() or 0,
    }


def load(h, spark, path: str, residue: int) -> dict:
    """Set-up phase: read the corpus, cut the held-out snippets, and start
    the Python workers the passes run on."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    with h.phase("load"):
        docs = spark.read.parquet(path)
        held = docs.filter(F.col("doc_id") % 7 == residue).select(
            "doc_id", F.substring("text", 1, SNIPPET_CHARS).alias("text")
        )
        n_held = held.count()
        one = pandas_udf(lambda s: s, "long")
        spark.range(h.nproc).repartition(h.nproc).select(one("id")).collect()
    return {
        "docs": docs, "wide": docs.repartition(h.nproc), "held": held,
        "n_held": n_held, "residue": residue, "path": path,
    }


def dedup_pass(tr, docs) -> int:
    from datafusion_uwheel_spark.operators import dedup

    with tr.span("dedup.signature"):
        pairs = dedup.lsh_candidate_pairs(
            dedup.with_minhash_signature(docs), min_est_jaccard=PAIR_JACCARD
        )
    with tr.span("dedup.pairs"):
        n = pairs.count()
    dedup.release_signatures(pairs)
    return n


def decontam_pass(docs, held, residue: int) -> tuple[int, int]:
    from datafusion_uwheel_spark.operators import contamination

    out = contamination.with_contamination_fuzzy(
        docs.select("doc_id", "text"), held, min_est_jaccard=DECON_JACCARD
    )
    n = out.filter("contaminated").count()
    n_src = out.filter(f"contaminated AND doc_id % 7 = {residue}").count()
    out._uw_release()
    return n, n_src


def run_passes(h, corpus: dict) -> dict:
    """:data:`SAMPLES` measured passes of each; queues the answer checks.
    Returns the figures of the first ones for the report line."""
    r = corpus["residue"]
    first: dict = {}
    for _ in range(SAMPLES):
        ok, pairs = h.call(
            "dedup", lambda: dedup_pass(h.tracer, corpus["docs"]), DEADLINE_S
        )
        if ok:
            h.check(check_pairs, corpus, first.setdefault("pairs", pairs), pairs)
        ok, flags = h.call(
            "decontam", lambda: decontam_pass(corpus["wide"], corpus["held"], r), DEADLINE_S
        )
        if ok:
            h.check(check_flags, corpus, first.setdefault("flagged", flags), flags)
    return {**first, "snippets": corpus["n_held"]}


def _duckdb(corpus: dict):
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{corpus['path']}')"
    )
    return con


def check_pairs(corpus: dict, first: int, pairs: int) -> str | None:
    """Every sample finds the first sample's pairs, at least half the
    planted copies among them; a small corpus also matches DuckDB."""
    from datafusion_uwheel_spark.oracles import minhash_lsh_sql

    if pairs != first:
        return f"candidate pairs {pairs}, first pass {first}"
    if pairs < corpus["n_copies"] // 2:
        return f"{pairs} candidate pairs, {corpus['n_copies']} planted copies"
    if corpus["n_docs"] <= ORACLE_MAX_DOCS:
        want = _duckdb(corpus).execute(
            f"SELECT COUNT(*) FROM ({minhash_lsh_sql(PAIR_JACCARD)})"
        ).fetchone()[0]
        if pairs != want:
            return f"candidate pairs {pairs}, DuckDB {want}"
    return None


def check_flags(corpus: dict, first: tuple, flags: tuple) -> str | None:
    """Every sample flags what the first flagged, at least half the
    snippet sources among them; a small corpus also matches DuckDB."""
    from datafusion_uwheel_spark.oracles import lsh_join_sql

    if tuple(flags) != tuple(first):
        return f"flagged (all, sources) {tuple(flags)}, first pass {tuple(first)}"
    if flags[1] < corpus["n_held"] // 2:
        return f"{flags[1]} of {corpus['n_held']} snippet sources flagged, want half"
    if corpus["n_docs"] <= ORACLE_MAX_DOCS:
        r = corpus["residue"]
        left = "SELECT doc_id AS id, text FROM documents"
        right = (
            f"SELECT doc_id AS id, substr(text, 1, {SNIPPET_CHARS}) AS text "
            f"FROM documents WHERE doc_id % 7 = {r}"
        )
        want = tuple(_duckdb(corpus).execute(
            "SELECT COUNT(DISTINCT id_left), "
            f"COUNT(DISTINCT id_left) FILTER (WHERE id_left % 7 = {r}) "
            f"FROM ({lsh_join_sql(DECON_JACCARD, left, right)})"
        ).fetchone())
        if tuple(flags) != want:
            return f"flagged (all, sources) {tuple(flags)}, DuckDB {want}"
    return None
