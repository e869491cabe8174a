"""A build killed at a phase boundary resumes to the index an uninterrupted
build writes: blob-identical segments/ and docstore/, rank-identical
answers; a compaction killed mid-merge, run again, writes the files an
uninterrupted one writes.

Each case runs build_index (or compact_index) in a child process with its
own Spark session and SIGKILLs the child's whole process tree (driver, JVM,
Python daemon and workers) when the boundary's file appears; this session
then resumes the build (or compacts again).
"""

from __future__ import annotations

import glob
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

from pyspark.sql import functions as F

from audioflux_spark.config import EngineConfig, IndexConfig
from audioflux_spark.operators.indexer import build_index
from audioflux_spark.operators.wand import bm25_topk_indexed
from audioflux_spark.plans.checkpoint import load_manifest, save_manifest
from audioflux_spark.sources.segments import IndexReader
from audioflux_spark.streaming.incremental import add_generation, compact_index
from tests.test_topk_exhaustive import assert_rank_identical

CFG = EngineConfig(index=IndexConfig(block_size=32, build_partitions=8))
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the child, CFG. With argv[2] == "compact" it compacts the index at
# argv[3] into argv[1]; otherwise it builds the conftest corpus (one scan
# split, so the build repartitions it into the same 8 partitions as this
# session does) at argv[1], resume=True, and with argv[2] == "stop" it stops
# right after segments/ is published, before meta.json is written, so the
# kill lands in that window
CHILD = """
import sys, time
from audioflux_spark.config import EngineConfig, IndexConfig
from audioflux_spark.fixtures import fixture_dir
from audioflux_spark.operators import indexer
from audioflux_spark.plans.session import get_spark
from audioflux_spark.streaming.incremental import compact_index

index_dir, mode = sys.argv[1], sys.argv[2]
if mode == "stop":
    publish = indexer._publish

    def publish_then_stop(staging, out_dir):
        publish(staging, out_dir)
        time.sleep(600)

    indexer._publish = publish_then_stop
spark = get_spark("killed-build", cores=1)
cfg = EngineConfig(index=IndexConfig(block_size=32, build_partitions=8))
if mode == "compact":
    compact_index(spark, sys.argv[3], index_dir, cfg=cfg)
else:
    transcripts = spark.read.parquet(fixture_dir("0.001") + "/transcripts.parquet")
    indexer.build_index(spark, transcripts, index_dir, cfg=cfg, resume=True)
"""


def _tree(root: int) -> list[int]:
    """root and its live descendants, read from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except FileNotFoundError:
        return True


def _kill_tree(proc: subprocess.Popen) -> None:
    """SIGKILL proc and every descendant at once, and wait until all are
    gone (a Python worker outliving its JVM could still write files)."""
    pids = _tree(proc.pid)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while not all(_gone(p) for p in pids):
        assert time.monotonic() < deadline, "killed build processes did not exit"
        time.sleep(0.01)


def _files(d: str) -> dict[str, bytes]:
    """Every data file under d's segments/ and docstore/, by relative path."""
    out = {}
    for sub in ("segments", "docstore"):
        for path in glob.glob(os.path.join(d, sub, "**", "*.parquet"), recursive=True):
            with open(path, "rb") as f:
                out[os.path.relpath(path, d)] = f.read()
    return out


@pytest.fixture(scope="module")
def reference(spark, transcripts_sdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("uninterrupted") / "idx")
    build_index(spark, transcripts_sdf, d, cfg=CFG)
    return d


@pytest.fixture(scope="module")
def generations(spark, transcripts_sdf, reference, tmp_path_factory):
    """(a two-generation index, its uninterrupted compaction): the reference
    build plus the corpus again, under new conv_ids, as a generation."""
    root = tmp_path_factory.mktemp("generations")
    src, out = str(root / "idx"), str(root / "compacted")
    shutil.copytree(reference, src)
    again = transcripts_sdf.withColumn("conv_id", F.concat("conv_id", F.lit("-again")))
    add_generation(spark, again, src, cfg=CFG)
    compact_index(spark, src, out, cfg=CFG)
    return src, out


# the partition resume_rewrite loses, and the file whose rewrite kills it
LOST_PID = 2


def _lost_partial(d: str) -> str:
    return os.path.join(d, "segments_partial", f"seg_id={LOST_PID}", "part-00000.parquet")


def _merge_staging(d: str) -> bool:
    return os.path.isdir(os.path.join(d, ".segments.tmp"))


# build case -> the condition on the index dir at which the child is killed.
# first_partial: a fresh build, when its first partial file appears;
# merge_staging: while the merge writes .segments.tmp; published_without_meta:
# after segments/ is published, before meta.json; resume_rewrite: a resume
# of a complete index that lost one partition (manifest entry and files),
# when that partition's partial file is rewritten
KILL_POINTS = {
    "first_partial": lambda d: bool(
        glob.glob(os.path.join(d, "segments_partial", "seg_id=*", "*.parquet"))
    ),
    "merge_staging": _merge_staging,
    "published_without_meta": lambda d: os.path.isdir(os.path.join(d, "segments"))
    and not os.path.exists(os.path.join(d, "meta.json")),
    "resume_rewrite": lambda d: os.path.exists(_lost_partial(d)),
}


@pytest.fixture(scope="module")
def killed(reference, generations, tmp_path_factory) -> dict[str, str]:
    """case -> index dir of a child build killed at the case's point, and
    "compaction" -> the output dir of a child compaction of the generations
    killed while it merges. The children (one core each) run side by side."""
    root = tmp_path_factory.mktemp("killed")
    env = dict(os.environ, PYTHONPATH=ROOT)
    points = dict(KILL_POINTS, compaction=_merge_staging)
    args = {"published_without_meta": ["stop"], "compaction": ["compact", generations[0]]}
    dirs, procs, logs = {}, {}, []
    try:
        for case in points:
            d = dirs[case] = str(root / case / "idx")
            if case == "resume_rewrite":
                shutil.copytree(reference, d)
                m = load_manifest(d)
                del m.entries[LOST_PID]
                for sub in ("segments_partial", "docstore"):
                    shutil.rmtree(os.path.join(d, sub, f"seg_id={LOST_PID}"))
                save_manifest(d, m)
            logs.append(open(root / f"{case}.log", "wb"))
            procs[case] = subprocess.Popen(
                [sys.executable, "-c", CHILD, d, *args.get(case, ["build"])],
                cwd=ROOT, env=env, stdout=subprocess.DEVNULL, stderr=logs[-1],
            )
        deadline = time.monotonic() + 240
        while procs:
            for case, proc in list(procs.items()):
                if points[case](dirs[case]):
                    _kill_tree(procs.pop(case))
                else:
                    assert proc.poll() is None, f"{case}: build ended before its kill point"
            assert time.monotonic() < deadline, f"kill points never reached: {sorted(procs)}"
            time.sleep(0.005)
    finally:
        for proc in procs.values():
            _kill_tree(proc)
        for f in logs:
            f.close()
    return dirs


@pytest.mark.parametrize("case", sorted(KILL_POINTS))
def test_killed_build_resumes_identical(
    spark, transcripts_sdf, reference, killed, oracle, queries, case
):
    """The resume after the kill writes the uninterrupted build's files,
    manifest and meta, and answers rank-identically to the oracle."""
    d = killed[case]
    if case == "published_without_meta":
        assert not os.path.exists(os.path.join(d, "meta.json"))
    build_index(spark, transcripts_sdf, d, cfg=CFG, resume=True)
    assert _files(d) == _files(reference)
    assert load_manifest(d) == load_manifest(reference)
    reader = IndexReader(spark, d)
    assert reader.meta == IndexReader(spark, reference).meta
    for q in queries[:4]:
        got = bm25_topk_indexed(reader, q.query_text, q.k).toPandas()
        assert_rank_identical(got, oracle.topk(q.query_text, q.k), context=f"{case} {q.query_id}")


def test_killed_compaction_reruns_identical(spark, generations, killed):
    """A compaction killed while it merges, run again, writes the
    uninterrupted compaction's files, manifest and meta."""
    src, want = generations
    d = killed["compaction"]
    assert not os.path.exists(os.path.join(d, "meta.json"))
    compact_index(spark, src, d, cfg=CFG)
    assert _files(d) == _files(want)
    assert load_manifest(d) == load_manifest(want)
    assert IndexReader(spark, d).meta == IndexReader(spark, want).meta


def test_resume_rebuilds_partition_rewritten_for_other_input(
    spark, transcripts_sdf, reference, tmp_path_factory
):
    """The window between a partials task's writes and the driver's manifest
    save: a resume rewrote one partition for changed rows and was killed,
    so the manifest still records the old input beside the new files. A
    resume on the old input rebuilds that partition (its fingerprint marker
    names the changed rows) and writes the uninterrupted build's files."""
    root = tmp_path_factory.mktemp("rewritten")
    changed, d = str(root / "changed"), str(root / "idx")
    conv = transcripts_sdf.select(F.min("conv_id")).first()[0]
    build_index(
        spark,
        transcripts_sdf.withColumn(
            "text",
            F.when(F.col("conv_id") == conv, F.concat("text", F.lit(" rewritten")))
            .otherwise(F.col("text")),
        ),
        changed,
        cfg=CFG,
    )
    old, new = load_manifest(reference).entries, load_manifest(changed).entries
    (pid,) = [p for p in old if old[p].input_fingerprint != new[p].input_fingerprint]

    shutil.copytree(reference, d)
    shutil.rmtree(os.path.join(d, "segments"))
    for sub in ("segments_partial", "docstore"):
        shutil.rmtree(os.path.join(d, sub, f"seg_id={pid}"))
        shutil.copytree(
            os.path.join(changed, sub, f"seg_id={pid}"), os.path.join(d, sub, f"seg_id={pid}")
        )
    leaf = os.path.join("docstore", f"seg_id={pid}", "part-00000.parquet")
    assert _files(d)[leaf] != _files(reference)[leaf]

    build_index(spark, transcripts_sdf, d, cfg=CFG, resume=True)
    assert _files(d) == _files(reference)
    assert load_manifest(d) == load_manifest(reference)
