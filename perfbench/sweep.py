"""Layer sweep of a traced run: per-layer metrics on the run's own corpus.

The workload loop records spans around the calls it makes. This sweep makes
the remaining layer calls once each (profiled build, resumes, standalone
merge, codec and WAND kernels in-process, one batch, a generation added and
compacted, a pass over the registry subset) so that every traced run reports
the same per-layer metric set, whichever workload it ran. Results it
produces are checked like the workload's own.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import statistics
import time

import numpy as np

from corpus import HOTTERM, QUERY_CLASSES, registry_tables, write_registry
from spans import median_or_none, process_tree, tree_cpu_s

# the non-BM25 registry families named for the benchmark, plus the registry
# queries bench.py samples; dedup_embedding_pairs is left out because its
# IVF index is written to a fixed directory outside the checkout
REGISTRY_QUERIES = (
    "corpus_kmv_sketch", "doc_dup_spans", "doc_lm_score", "doc_ccnet_bucket",
    "doc_repetition", "dedup_minhash", "events_sessionize", "term_doc_freqs",
    "dedup_shingle_jaccard", "dedup_lsh_pairs", "ann_topk_cosine", "events_scalogram",
    "term_entropy", "doc_hps", "doc_pack_windows", "doc_stratified_sample",
)
# documents, events, embeddings of the generated registry tables
REGISTRY_SIZES = (300, 6000, 300)
KERNEL_CLASSES = ("needle", "rare", "mid", "hot", "multi")
SNAPSHOT_CONVS = 100
BUILD_PHASES = ("stats", "docstore", "token_stats", "partials", "lineage", "merge")
CORES = len(os.sched_getaffinity(0))


def layer_sweep(run, ctx) -> dict[str, tuple[float, str]]:
    tr = run.tracer
    tr.enabled = True
    out: dict[str, tuple[float, str]] = {}

    def put(name: str, value, unit: str) -> None:
        if value is not None:
            out[name] = (float(value), unit)

    sweep_dir = run.path("sweep")
    shutil.rmtree(sweep_dir, ignore_errors=True)
    _profiled_build(run, ctx, sweep_dir, put)
    _, noop = run.timed("noop_resume", lambda: run.build(ctx.transcripts, sweep_dir, resume=True))
    put("indexer.noop_resume_s", noop, "s")
    _checkpoint(run, ctx, sweep_dir, put)

    from audioflux_spark.operators.indexer import merge_segments

    def merge():
        with tr.span("operators.indexer.merge_segments"):
            merge_segments(run.spark, sweep_dir, run.cfg)

    _, merge_s = run.timed("merge", merge)
    put("indexer.merge_s", merge_s, "s")
    _codec(run, sweep_dir, put)

    reader = run.open_reader(sweep_dir)
    with tr.span("sources.segments.warm"):
        reader.warm()
    for q in ctx.sampler.one_per_class():
        run.query(reader, q, ctx.oracle)
    run.batch(reader, [ctx.sampler.draw() for _ in range(8)], ctx.oracle)
    _kernels(run, ctx, reader, put)
    _incremental(run, ctx, sweep_dir, put)
    _registry(run, put)

    starts = tr.durations("plans.session.get_spark")
    put("session.start_s", starts[0] if starts else None, "s")
    put("transcripts.scan_s", median_or_none(tr.durations("sources.transcripts.read_transcripts")), "s")
    put("segments.open_s", median_or_none(tr.durations("sources.segments.IndexReader")), "s")
    put("segments.warm_s", median_or_none(tr.durations("sources.segments.warm")), "s")
    put("wand.plan_s", median_or_none(tr.durations("operators.wand.bm25_topk_indexed")), "s")
    put("wand.exec_s", median_or_none(tr.durations("operators.wand.collect")), "s")
    for cls in QUERY_CLASSES:
        put(f"wand.query_p50_s.{cls}", median_or_none(tr.durations(f"op.query.{cls}")), "s")
    qjobs = [j for cls in QUERY_CLASSES for j in tr.op_jobs(f"query.{cls}")]
    put("wand.jobs_per_query", median_or_none([j[0] for j in qjobs]), "count")
    put("wand.stages_per_query", median_or_none([j[1] for j in qjobs]), "count")
    put("wand.batch_plan_s", median_or_none(tr.durations("operators.wand.bm25_topk_many")), "s")
    put("wand.batch_exec_s", median_or_none(tr.durations("operators.wand.batch_collect")), "s")
    put("wand.batch_jobs", median_or_none([j[0] for j in tr.op_jobs("batch")]), "count")
    put("wand.plan_exec_share", _plan_exec_share(tr), "ratio")
    shutil.rmtree(sweep_dir, ignore_errors=True)
    return dict(sorted(out.items()))


def _profiled_build(run, ctx, index_dir: str, put) -> None:
    """A fresh build with the engine's AFSPARK_BUILD_PROFILE phase lines on:
    phase seconds, process-tree CPU utilisation, jobs and bytes written."""
    err = io.StringIO()
    os.environ["AFSPARK_BUILD_PROFILE"] = "1"
    try:
        before = process_tree()
        cpu0 = tree_cpu_s(before)
        with contextlib.redirect_stderr(err):
            _, wall = run.timed("build", lambda: run.build(ctx.transcripts, index_dir, resume=False))
        # Python workers started during the build count with all their CPU
        started = set(process_tree()) - set(before)
        cpu1 = tree_cpu_s(before) + tree_cpu_s(sorted(started))
    finally:
        del os.environ["AFSPARK_BUILD_PROFILE"]
    if wall:
        put("indexer.cpu_util", (cpu1 - cpu0) / (wall * CORES), "ratio")
    jobs = run.tracer.op_jobs("build")
    if jobs:
        put("indexer.jobs", jobs[-1][0], "count")
        put("indexer.stages", jobs[-1][1], "count")
        put("indexer.tasks", jobs[-1][2], "count")
    # reported absent when the engine no longer prints its phase lines
    for name, secs in re.findall(r"BUILD_PHASE (\w+) ([0-9.]+)s", err.getvalue()):
        if name in BUILD_PHASES:
            put(f"indexer.phase.{name}_s", float(secs), "s")
    for sub in ("docstore", "segments_partial", "segments"):
        put(f"indexer.bytes.{sub}", dir_bytes(os.path.join(index_dir, sub)), "bytes")


def _checkpoint(run, ctx, index_dir: str, put) -> None:
    """Manifest shape, then a resume after seeded partition loss: partitions
    rebuilt, and three queries answered from the resumed index."""
    from audioflux_spark.plans.checkpoint import load_manifest

    manifest = load_manifest(index_dir)
    put("checkpoint.partitions", len(manifest.entries), "count")
    put("checkpoint.skew_max", max((e.skew_ratio for e in manifest.entries.values()), default=None), "ratio")
    lose_partitions(index_dir, np.random.default_rng(run.args.seed + 1))
    t0 = time.time()
    _, resume_s = run.timed("resume", lambda: run.build(ctx.transcripts, index_dir, resume=True))
    put("indexer.resume_s", resume_s, "s")
    part = os.path.join(index_dir, "segments_partial")
    rebuilt = [d for d in os.listdir(part)
               if d.startswith("seg_id=") and os.path.getmtime(os.path.join(part, d)) >= t0 - 1]
    put("checkpoint.rebuilt_partitions", len(rebuilt), "count")
    reader = run.open_reader(index_dir)
    for cls in ("rare", "hot", "multi"):
        run.query(reader, ctx.sampler.draw_class(cls), ctx.oracle)


def _codec(run, index_dir: str, put) -> None:
    """varint decode and posting encode throughput over the hot term's blobs."""
    import pyarrow.dataset as pads

    from audioflux_spark.functions.codec import delta_decode_segmented, encode_postings, varint_decode

    tbl = pads.dataset(os.path.join(index_dir, "segments"), format="parquet").to_table(
        columns=["doc_blob", "df", "part_counts"], filter=pads.field("term") == HOTTERM)
    if tbl.num_rows == 0:
        return
    blob = tbl.column("doc_blob")[0].as_py()
    df = int(tbl.column("df")[0].as_py())
    parts = np.asarray(tbl.column("part_counts")[0].as_py(), dtype=np.int64)

    def rate(fn, nbytes: int) -> float:
        times = []
        for _ in range(20):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return nbytes / statistics.median(times) / 1e6

    with run.tracer.span("functions.codec.varint_decode"):
        put("codec.decode_mb_per_s", rate(lambda: varint_decode(blob, df), len(blob)), "MB/s")
    docs = delta_decode_segmented(varint_decode(blob, df).astype(np.int64), parts)
    with run.tracer.span("functions.codec.encode_postings"):
        encoded = encode_postings(docs)
        put("codec.encode_mb_per_s", rate(lambda: encode_postings(docs), len(encoded)), "MB/s")


def _kernels(run, ctx, reader, put) -> None:
    """wand_topk_kernel in-process on each class's segment rows (fetched
    first): median seconds and the share of blocks it decoded."""
    from pyspark.sql import functions as F

    from audioflux_spark.operators.topk import query_terms
    from audioflux_spark.operators.wand import wand_topk_kernel

    meta = reader.meta
    queries = {cls: ctx.sampler.draw_class(cls) for cls in KERNEL_CLASSES}
    terms = sorted({t for q in queries.values() for t in query_terms(q.text)})
    segs = reader.segments.filter(F.col("term").isin(terms)).toPandas()
    for cls, q in queries.items():
        rows = segs[segs["term"].isin(query_terms(q.text))].to_dict("records")
        if not rows:
            continue
        stats: dict = {}
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            with run.tracer.span("operators.wand.wand_topk_kernel"):
                wand_topk_kernel(rows, reader.n_docs, reader.avgdl, meta.k1, meta.b, q.k, stats_out=stats)
            times.append(time.perf_counter() - t0)
        put(f"wand.kernel_s.{cls}", statistics.median(times), "s")
        if stats.get("blocks_total"):
            put(f"wand.blocks_decoded_ratio.{cls}", stats["blocks_decoded"] / stats["blocks_total"], "ratio")


def _incremental(run, ctx, index_dir: str, put) -> None:
    """add_generation of a seeded snapshot whose conv_ids interleave with the
    base's, queries on the multi-generation reader, then compact_index and
    queries on the compacted index; all checked against an oracle over both."""
    import pandas as pd

    from audioflux_spark.fixtures import gen_transcripts
    from audioflux_spark.oracle import BM25Oracle
    from audioflux_spark.sources.transcripts import read_transcripts
    from audioflux_spark.streaming.incremental import add_generation, compact_index

    snap = gen_transcripts(SNAPSHOT_CONVS, run.args.seed + 7)
    snap["conv_id"] = snap["conv_id"] + "b"
    snap_dir = run.path("snapshot")
    os.makedirs(snap_dir, exist_ok=True)
    snap.to_parquet(os.path.join(snap_dir, "transcripts.parquet"), index=False)
    oracle = BM25Oracle(pd.concat([ctx.corpus, snap], ignore_index=True))
    queries = [ctx.sampler.draw_class(c) for c in ("rare", "hot", "multi")]

    def add():
        with run.tracer.span("streaming.incremental.add_generation"):
            return add_generation(run.spark, read_transcripts(run.spark, snap_dir), index_dir, cfg=run.cfg)

    multi, add_s = run.timed("add_generation", add)
    put("incremental.add_generation_s", add_s, "s")
    if multi is None:
        return
    put("incremental.generations", len(multi.generations), "count")
    walls = [run.query(multi, q, oracle) for q in queries]
    put("incremental.multigen_query_p50_s", median_or_none([w for w in walls if w is not None]), "s")

    compacted = run.path("compacted")

    def compact():
        with run.tracer.span("streaming.incremental.compact_index"):
            return compact_index(run.spark, index_dir, compacted, cfg=run.cfg)

    comp, compact_s = run.timed("compact", compact)
    put("incremental.compact_s", compact_s, "s")
    if comp is None:
        return
    put("incremental.compacted_bytes", dir_bytes(compacted), "bytes")
    walls = [run.query(comp, q, oracle) for q in queries]
    put("incremental.compacted_query_p50_s", median_or_none([w for w in walls if w is not None]), "s")


def _registry(run, put) -> None:
    """The registry subset over seeded documents / events / embeddings
    tables: a first call per query that builds its on-disk artifacts, then
    one timed pass in seed-shuffled order, each result compared with its
    oracle_sql() twin in DuckDB."""
    import duckdb

    from audioflux_spark import entry_queries

    # the artifacts go under the run directory instead of the fixed /tmp root
    entry_queries._MAT_ROOT = run.path("artifacts")
    data_dir = write_registry(run.path("registry"), registry_tables(*REGISTRY_SIZES, run.args.seed))
    registry, sql = entry_queries.queries(), entry_queries.oracle_sql()
    for name in REGISTRY_QUERIES:
        registry[name](run.spark, data_dir).collect()
    con = duckdb.connect()
    try:
        for table in ("documents", "events", "embeddings"):
            path = os.path.join(data_dir, f"{table}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        order = np.random.default_rng(run.args.seed).permutation(len(REGISTRY_QUERIES))
        total = 0.0
        for name in (REGISTRY_QUERIES[i] for i in order):
            def call(name=name):
                with run.tracer.span(f"entry_queries.{name}"):
                    return registry[name](run.spark, data_dir).toPandas()

            got, dt = run.timed(f"registry.{name}", call)
            put(f"registry.{name}_s", dt, "s")
            total += dt or 0.0
            jobs = run.tracer.op_jobs(f"registry.{name}")
            put(f"registry.jobs.{name}", jobs[-1][0] if jobs else None, "count")
            if got is not None and not same_frame(got, con.execute(sql[name]).df()):
                run.mismatches.append(f"registry {name}")
        put("registry.pass_s", total, "s")
    finally:
        con.close()


def same_frame(a, b) -> bool:
    """Same column set and the same multiset of rows, compared as strings
    (the rule of tests/test_entry_contract.py)."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False

    def norm(p):
        p = p.reindex(sorted(p.columns), axis=1)
        return p.sort_values(list(p.columns)).reset_index(drop=True).astype(str)

    return bool((norm(a).to_numpy() == norm(b).to_numpy()).all())


def _plan_exec_share(tr) -> float | None:
    """Median share of a traced single query's wall that its plan + collect
    spans cover."""
    shares = []
    for idx, s in enumerate(tr.spans):
        if s.name.startswith("op.query.") and s.dur:
            shares.append(sum(c.dur for c in tr.spans if c.parent == idx) / s.dur)
    return median_or_none(shares)


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def lose_partitions(index_dir: str, rng) -> list[int]:
    """Drop a seeded quarter of the build partitions: their manifest entries
    and their seg_id directories in the docstore and the partial segments."""
    from audioflux_spark.plans.checkpoint import load_manifest, save_manifest

    manifest = load_manifest(index_dir)
    pids = sorted(manifest.entries)
    lost = sorted(int(p) for p in rng.choice(pids, size=max(1, len(pids) // 4), replace=False))
    for pid in lost:
        del manifest.entries[pid]
        for sub in ("docstore", "segments_partial"):
            shutil.rmtree(os.path.join(index_dir, sub, f"seg_id={pid}"), ignore_errors=True)
    save_manifest(index_dir, manifest)
    return lost
