"""Plan-shape regression tests: pin the physical-plan properties the
engine's 100-TB claims rest on. Every scale argument in COVERAGE.md /
BENCH/BASELINE.md was verified by hand with .explain during development;
these assertions keep a refactor from silently trading a pushed filter
for a full scan, a broadcast for a shuffle join, or a bounded top-k for
a global sort. String-level checks on the compiled physical plan — cheap
(no job runs beyond one-time artifact builds at sf0.001)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_segments_term_in_pushdown(spark):
    """The serving path's `term IN (...)` predicate must reach the segments
    parquet scan (file/row-group pruning on the term-sorted layout) — the
    property that makes query cost ~O(query terms), not O(vocabulary)."""
    import audioflux_spark.entry_queries as eq

    reader = eq._reader(spark, SF_DIR)
    seg = reader.generations[0].segments.drop("pos_blob", "block_pos_bytes")
    pruned = seg.filter(F.col("term").isin(["term00000", "term00001"]))
    plan = _plan(pruned)
    assert "In(term" in plan, f"term IN not pushed to scan:\n{plan[:2000]}"


def test_lang_filter_pushdown_and_bounded_topk(spark):
    """The WHERE-filtered query pushes lang equality into the documents
    scan, broadcasts the small side, and plans the top-k as
    TakeOrderedAndProject (bounded per-partition heaps), never a global
    Sort over all scored docs."""
    df = entry_mod.queries()["bm25_topk_lang_filtered"](spark, SF_DIR)
    plan = _plan(df)
    assert "EqualTo(lang,en)" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_broadcasts_and_no_cartesian(spark):
    """SemDeDup's centroid join must broadcast (k rows) and the pair join
    must stay an equi-join on bucket — any CartesianProduct here means the
    Σ|bucket|² bound was lost."""
    df = entry_mod.queries()["dedup_semdedup"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exhaustive_topk_is_bounded(spark):
    """The pure-Catalyst scoring path ends in TakeOrderedAndProject — the
    k-bounded form — not Sort+Limit over every candidate."""
    from audioflux_spark.operators.tokenize import corpus_stats, doc_stats, term_freqs
    from audioflux_spark.operators.topk import bm25_topk_exhaustive
    from audioflux_spark.sources.transcripts import documents_as_transcripts

    t = documents_as_transcripts(spark, SF_DIR)
    df = bm25_topk_exhaustive(term_freqs(t), doc_stats(t), corpus_stats(t), "dup window", 5)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_indexed_serving_single_job_shape(spark):
    """A single query is ONE job of one Python task: MapInArrow over a
    one-partition Range carrying the query, with no scan of the segment
    table or its persisted copy, no Exchange and no TakeOrderedAndProject
    (the task returns its k rows already sorted)."""
    import audioflux_spark.entry_queries as eq
    from audioflux_spark.operators.wand import bm25_topk_indexed

    reader = eq._reader(spark, SF_DIR)
    df = bm25_topk_indexed(reader, "join hash row", 10)
    plan = _plan(df)
    assert "MapInArrow" in plan
    assert "Range (0, 1, step=1, splits=1)" in plan
    for op in ("InMemoryTableScan", "FileScan", "Exchange", "TakeOrderedAndProject"):
        assert op not in plan, f"{op} in the single-query plan:\n{plan[:2000]}"

    sc = spark.sparkContext
    group = "afspark-single-query-jobs"
    sc.setJobGroup(group, "one single query")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
