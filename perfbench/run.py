#!/usr/bin/env python3
"""Seeded build / serve benchmark for the audioflux_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload {build,serve} --seed N --seconds S --trace {0,1}

The run generates its inputs from the seed, drives the engine only through
its public functions, checks every result against an oracle outside the
timed sections, prints a readable report and, as the last line of standard
output, one JSON object with the keys correct, attempted, failed and metrics.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run. perfbench/README.md describes the workloads and the
metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = len(os.sched_getaffinity(0))

# conversations (~12 turns each) per corpus; both workloads use the same
# corpus for a seed, sized so that 4 + 22 x 2 runs fit the time budget on
# 4 cores
CONVS = 600
TINY_CONVS = 60
# first-call warm-ups in set-up: the JVM keeps speeding up over the first
# builds and queries of a session (the build after a cold one runs 3-4x
# faster, later ones another quarter; queries drop about a fifth over the
# first 50), so the timed loops start nearer the level they reach
WARMUP_BUILDS = 2
WARMUP_QUERIES = 12
BATCH_SIZE = 24  # bm25_topk_many batch size of the reference measurements
# serve: one batch after every ten single queries, so that both paths are
# timed in every run and singles still take most of its time
BATCH_EVERY = 10

# op_cpu_s is the median process-tree CPU seconds of the workload's op. The
# op's median wall (build_turns_per_s, query_p50_s on the report lines) moves
# by 15-27% between runs on a shared 4-core host, CPU seconds by about half
# that, so only CPU seconds carry a bound
END_TO_END_UNITS = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "index_bytes_per_input_byte": "ratio",
}


def _isolate_environment() -> None:
    """Keep every file the run writes, Spark's included, inside the checkout,
    and make the engine importable from Spark's Python workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


class Context:
    """Inputs and oracle of one run, built before anything is timed."""

    def __init__(self, run: Run, n_convs: int):
        from audioflux_spark.oracle import BM25Oracle
        from corpus import QuerySampler, cached_corpus

        self.corpus_dir, self.corpus = cached_corpus(os.path.join(WORK, "corpus"),
                                                     n_convs, run.args.seed)
        self.input_bytes = os.path.getsize(os.path.join(self.corpus_dir, "transcripts.parquet"))
        self.oracle = BM25Oracle(self.corpus)
        self.sampler = QuerySampler(self.oracle.df, run.args.seed)
        self.index_dir = run.path("index")
        self.transcripts = None  # Spark DataFrame of the corpus
        self.reader = None  # IndexReader over index_dir


class Run:
    """Per-run state: Spark session, tracer, op counts and pending checks."""

    def __init__(self, args):
        from audioflux_spark.config import EngineConfig, IndexConfig
        from spans import Tracer

        self.args = args
        self.tracer = Tracer(enabled=bool(args.trace))
        # the default 32 build partitions are sized for 32 cores; on fewer
        # cores they multiply per-task overhead, so build with one per core
        self.cfg = EngineConfig(index=IndexConfig(build_partitions=CORES))
        self.dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.spark = None
        self.attempted = 0
        self.errors = 0
        self.last_cpu: float | None = None  # process-tree CPU seconds of the last op
        self.mismatches: list[str] = []
        # (label, rows, oracle thunk) compared after the timed sections
        self.pending: list[tuple[str, list, object]] = []
        self.report: list[tuple[str, float, str]] = []

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def session(self):
        """Start the Spark session (and its JVM)."""
        from audioflux_spark import get_spark

        with self.tracer.span("plans.session.get_spark"):
            self.spark = get_spark("perfbench", cores=CORES, extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def timed(self, kind: str, fn):
        """(result, wall seconds) of one op, with its process-tree CPU seconds
        in ``last_cpu``; (None, None) if it raised, which counts the op as
        failed and lets the run go on."""
        from spans import process_tree, tree_cpu_s

        self.attempted += 1
        self.last_cpu = None
        try:
            with self.tracer.op(kind, self.spark):
                before = process_tree()
                cpu0 = tree_cpu_s(before)
                t0 = time.perf_counter()
                out = fn()
                wall = time.perf_counter() - t0
                # processes gone since are counted in their parent's cutime
                self.last_cpu = tree_cpu_s(sorted(set(before) | set(process_tree()))) - cpu0
                return out, wall
        except Exception:
            self.errors += 1
            traceback.print_exc()
            return None, None

    def note(self, name: str, value: float | None, unit: str, extra: str = "") -> None:
        if value is not None:
            self.report.append((name, value, unit + (f" ({extra})" if extra else "")))

    # ---- calls into the engine, each inside its layer's span

    def build(self, transcripts, index_dir: str, resume: bool):
        from audioflux_spark.operators.indexer import build_index

        with self.tracer.span("operators.indexer.build_index"):
            return build_index(self.spark, transcripts, index_dir, cfg=self.cfg, resume=resume)

    def open_reader(self, index_dir: str):
        from audioflux_spark.sources.segments import IndexReader

        with self.tracer.span("sources.segments.IndexReader"):
            return IndexReader(self.spark, index_dir)

    def query(self, reader, q, oracle) -> float | None:
        """One single query (call + collect), queued for the oracle check."""
        from audioflux_spark.operators.wand import bm25_topk_indexed

        def call():
            with self.tracer.span("operators.wand.bm25_topk_indexed"):
                df = bm25_topk_indexed(reader, q.text, q.k)
            with self.tracer.span("operators.wand.collect"):
                return df.collect()

        rows, dt = self.timed(f"query.{q.cls}", call)
        if rows is not None:
            self.pending.append((f"query {q.cls} {q.text!r} k={q.k}", rows,
                                 lambda: oracle.topk(q.text, q.k)))
        return dt

    def batch(self, reader, qs, oracle) -> float | None:
        """One bm25_topk_many call over ``qs`` (call + collect), queued for checks."""
        from audioflux_spark.operators.wand import bm25_topk_many

        batch = [(f"b{i}", q.text, q.k) for i, q in enumerate(qs)]

        def call():
            with self.tracer.span("operators.wand.bm25_topk_many"):
                df = bm25_topk_many(reader, batch)
            with self.tracer.span("operators.wand.batch_collect"):
                return df.collect()

        rows, dt = self.timed("batch", call)
        if rows is not None:
            for qid, text, k in batch:
                got = sorted((r for r in rows if r["query_id"] == qid), key=lambda r: r["rank"])
                got = [(r["conv_id"], r["turn_idx"], r["score"]) for r in got]
                self.pending.append((f"batch {text!r} k={k}", got,
                                     lambda text=text, k=k: oracle.topk(text, k)))
        return dt

    def check_pending(self) -> None:
        """Compare every queued result with its oracle (outside timed sections)."""
        for label, rows, want_fn in self.pending:
            if not same_ranking(rows, want_fn()):
                self.mismatches.append(label)
                print(f"perfbench: MISMATCH {label}", file=sys.stderr)
        self.pending.clear()


def same_ranking(rows, want) -> bool:
    """Rank-identical to the oracle frame: same (conv_id, turn_idx) order and
    scores within 1e-9 (relative above 1)."""
    if len(rows) != len(want):
        return False
    for got, (conv, turn, score) in zip(rows, want[["conv_id", "turn_idx", "score"]].itertuples(index=False)):
        if got[0] != conv or int(got[1]) != int(turn):
            return False
        if abs(float(got[2]) - float(score)) > 1e-9 * max(1.0, abs(float(score))):
            return False
    return True


def setup(run: Run, ctx: Context) -> None:
    """Everything before the timed loop: session start, corpus scan, the
    index build, reader open and first-call warm-ups. build builds
    WARMUP_BUILDS times; serve builds once, warms the reader and sends
    WARMUP_QUERIES single queries of the mix."""
    from audioflux_spark.operators.wand import bm25_topk_indexed
    from audioflux_spark.sources.transcripts import read_transcripts
    from corpus import QuerySampler

    spark = run.session()
    with run.tracer.span("sources.transcripts.read_transcripts"):
        ctx.transcripts = read_transcripts(spark, ctx.corpus_dir)
        ctx.transcripts.count()
    serve = run.args.workload == "serve"
    for _ in range(1 if serve else WARMUP_BUILDS):
        shutil.rmtree(ctx.index_dir, ignore_errors=True)
        run.build(ctx.transcripts, ctx.index_dir, resume=False)
    ctx.reader = run.open_reader(ctx.index_dir)
    if serve:
        with run.tracer.span("sources.segments.warm"):
            ctx.reader.warm()
    warmup = QuerySampler(ctx.oracle.df, run.args.seed + 1)
    for _ in range(WARMUP_QUERIES if serve else 1):
        q = warmup.draw()
        bm25_topk_indexed(ctx.reader, q.text, q.k).collect()


def traced_turn(run: Run, i: int) -> None:
    """In a traced run, trace every other op so the untraced ones give the
    tracing overhead; an untraced run traces nothing."""
    run.tracer.enabled = bool(run.args.trace) and i % 2 == 0


def enough(run: Run, untraced: list[float], traced: list[float]) -> bool:
    """At least one op timed, and in a traced run one of each kind."""
    return bool(untraced) and (bool(traced) or not run.args.trace)


def run_build(run: Run, ctx: Context, seconds: float) -> dict:
    """Fresh builds into an emptied directory, each followed by the seeded
    probe set; then one resume after seeded partition loss."""
    import numpy as np

    from sweep import dir_bytes, lose_partitions

    probes = [ctx.sampler.draw_class(c) for c in ("rare", "hot", "multi")]
    walls: list[float] = []
    traced_walls: list[float] = []
    cpus: list[float] = []
    probe_walls: list[float] = []

    def probe() -> None:
        reader = run.open_reader(ctx.index_dir)
        for q in probes:
            dt = run.query(reader, q, ctx.oracle)
            if dt is not None:
                probe_walls.append(dt)

    start = time.perf_counter()
    i = 0
    while True:
        traced_turn(run, i)
        shutil.rmtree(ctx.index_dir, ignore_errors=True)
        _, dt = run.timed("build", lambda: run.build(ctx.transcripts, ctx.index_dir, resume=False))
        if dt is not None:
            (traced_walls if run.tracer.enabled else walls).append(dt)
            cpus.append(run.last_cpu)
        probe()
        i += 1
        # stop before a build that would end past the deadline
        spent = time.perf_counter() - start
        if spent * (i + 1) / i > seconds and enough(run, walls, traced_walls):
            break
    run.tracer.enabled = bool(run.args.trace)
    index_bytes = dir_bytes(ctx.index_dir)
    lost = lose_partitions(ctx.index_dir, np.random.default_rng(run.args.seed))
    _, resume_s = run.timed("resume", lambda: run.build(ctx.transcripts, ctx.index_dir, resume=True))
    probe()

    all_walls = walls + traced_walls
    build_p50 = statistics.median(all_walls) if all_walls else None
    turns = len(ctx.corpus)
    run.note("build_turns_per_s", turns / build_p50 if build_p50 else None, "turns/s",
             f"{turns} turns, build walls " + " ".join(f"{w:.3f}" for w in all_walls))
    run.note("resume_s", resume_s, "s", f"{len(lost)} partitions lost")
    run.note("probe_query_p50_s", statistics.median(probe_walls) if probe_walls else None, "s",
             f"n={len(probe_walls)}")
    overhead(run, walls, traced_walls)
    run.note("build_cpu_s", statistics.median(cpus) if cpus else None, "s", "CPU seconds per build")
    return {"op_cpu_s": statistics.median(cpus) if cpus else None,
            "index_bytes_per_input_byte": index_bytes / ctx.input_bytes}


def run_serve(run: Run, ctx: Context, seconds: float) -> dict:
    """Closed loop, one client: seeded single queries on the warmed index,
    with a bm25_topk_many batch of the same mix after every BATCH_EVERY
    singles, and at least one of each per run."""
    from sweep import dir_bytes

    singles: list[float] = []
    traced_singles: list[float] = []
    cpus: list[float] = []
    batches: list[float] = []
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        traced_turn(run, i)
        past = time.perf_counter() >= deadline
        done = enough(run, singles, traced_singles)
        if past and done and batches:
            break
        if (past and done) or (not past and i % (BATCH_EVERY + 1) == BATCH_EVERY):
            dt = run.batch(ctx.reader, [ctx.sampler.draw() for _ in range(BATCH_SIZE)], ctx.oracle)
            if dt is not None:
                batches.append(dt)
        else:
            dt = run.query(ctx.reader, ctx.sampler.draw(), ctx.oracle)
            if dt is not None:
                (traced_singles if run.tracer.enabled else singles).append(dt)
                cpus.append(run.last_cpu)
        i += 1
    run.tracer.enabled = bool(run.args.trace)
    lat = sorted(singles + traced_singles)
    p50 = statistics.median(lat) if lat else None
    n = len(lat)
    run.note("query_p50_s", p50, "s", f"n={n}")
    if lat:
        p90 = statistics.quantiles(lat, n=10)[-1] if n > 1 else lat[0]
        run.note("query_p90_s", p90, "s", f"n={n}, {sum(x > p90 for x in lat)} beyond")
    run.note("batch_qps", BATCH_SIZE / statistics.median(batches) if batches else None,
             "queries/s", f"n={len(batches)} batches of {BATCH_SIZE}")
    overhead(run, singles, traced_singles)
    run.note("query_cpu_s", statistics.median(cpus) if cpus else None, "s", "CPU seconds per query")
    return {"op_cpu_s": statistics.median(cpus) if cpus else None,
            "index_bytes_per_input_byte": dir_bytes(ctx.index_dir) / ctx.input_bytes}


def overhead(run: Run, untraced: list[float], traced: list[float]) -> None:
    """Traced-minus-untraced median op wall, from the alternating ops of a traced run."""
    if run.args.trace and untraced and traced:
        run.note("tracing_overhead_s", statistics.median(traced) - statistics.median(untraced), "s",
                 f"{len(traced)} traced, {len(untraced)} untraced ops")


WORKLOADS = {"build": run_build, "serve": run_serve}


def host_info(run: Run) -> list[tuple[str, str]]:
    import pyarrow
    import pyspark

    java = run.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return [("nproc", str(CORES)), ("pyspark", pyspark.__version__), ("java", java),
            ("pyarrow", pyarrow.__version__), ("python", sys.version.split()[0])]


def shutdown(run: Run) -> None:
    """Stop Spark, end its JVM and Python workers, and wait until each is gone."""
    from spans import process_tree

    children = [p for p in process_tree() if p != os.getpid()]
    if run.spark is not None:
        run.spark.stop()
        run.spark = None
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in children:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny corpus, for perfbench/smoke.py")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "audioflux_spark", "__init__.py")):
        print(f"perfbench: no audioflux_spark package under {ROOT}; "
              "run from the root of a repository checkout", file=sys.stderr)
        return 2
    _isolate_environment()
    import bench
    from spans import process_tree, tree_peak_rss_mb
    from sweep import layer_sweep

    run = Run(args)
    os.makedirs(run.dir, exist_ok=True)
    layers: dict[str, tuple[float, str]] = {}
    try:
        probe_before = bench.probe_ratio(CORES)
        ctx = Context(run, TINY_CONVS if args.tiny else CONVS)
        t0 = time.perf_counter()
        setup(run, ctx)
        metrics = {"setup_s": time.perf_counter() - t0}
        metrics.update(WORKLOADS[args.workload](run, ctx, args.seconds))
        peak_rss_mb = tree_peak_rss_mb(process_tree())
        run.check_pending()
        if args.trace:
            layers = layer_sweep(run, ctx)
            run.check_pending()
        host = host_info(run)
    finally:
        shutdown(run)
        shutil.rmtree(run.dir, ignore_errors=True)
    probe_after = bench.probe_ratio(CORES)

    failed = run.errors + len(run.mismatches)
    for k, v in host:
        print(f"perfbench host {k} {v}")
    print(f"perfbench host probe_ratio_before {probe_before:.3f}")
    print(f"perfbench host probe_ratio_after {probe_after:.3f}")
    print(f"perfbench run workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} turns={len(ctx.corpus)}")
    run.note("setup_s", metrics["setup_s"], "s")
    run.note("index_bytes_per_input_byte", metrics["index_bytes_per_input_byte"], "ratio")
    run.note("peak_rss_mb", peak_rss_mb, "MB")
    run.note("failed_op_ratio", failed / max(run.attempted, 1), "ratio",
             f"exceptions={run.errors} mismatches={len(run.mismatches)} attempted={run.attempted}")
    for name, value, unit in run.report:
        print(f"perfbench report {name} {value:.6g} {unit}")
    if args.trace:
        for layer, secs in sorted(run.tracer.self_times().items()):
            print(f"perfbench self_time {layer} {secs:.4f} s")
        run.tracer.write(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
        out = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        out = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": out}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
