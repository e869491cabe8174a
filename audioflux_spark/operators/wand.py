"""Block-max WAND top-k over the compressed segment table (M4).

The reference's onset peak-pick (/root/reference/src/mir/onset_algorithm.c:
423-460) selects bounded candidates using *local* windowed bounds (local max,
local avg + delta) — block-max WAND (Ding & Suel, SIGIR 2011) is the same
idea over posting lists: per-block exact upper bounds let the scorer skip
every region that cannot beat the current k-th score (θ).

Byte-skipping: posting bytes are varint-decoded *per block, on demand* —
block metadata (first docID, upper bound, byte length) is enough to prune a
block without ever touching its bytes. The per-block byte lengths stored in
the segment schema make each block independently decodable (its first docID
re-anchors the delta chain), which is the entire point of BMW at scale: a
Zipf-head term's posting list is mostly skipped, not just mostly unscored.

Vectorization contract (input_hint: no per-row Python): classic WAND chases
per-document pointers — hostile to NumPy — so this kernel prunes at *block*
granularity instead: elementary doc-id intervals are formed from the union of
all query terms' block boundaries, each interval gets the upper bound
Σ_t idf_t · blockmax_t(interval), intervals are processed in descending bound
order with whole-interval vectorized scoring, and processing stops once the
next bound cannot reach θ (with a 1e-9 float-safety margin). Pruning power is
identical to doc-at-a-time BMW up to block resolution; all inner loops are
NumPy. Property-tested against exhaustive scoring (tests/test_index_wand.py).

Serving shapes (all scoring runs in EXECUTOR tasks — no posting blob ever
reaches the driver):
* ``bm25_topk_many``    — a DataFrame of queries broadcast-joined to the
  term-pruned segment scan, doc-range SHARDED (each shard owns an exact
  docID range; a term's blocks are byte-sliced to the ranges they overlap),
  scored per (query, generation, shard) via applyInPandas, then k-way merged
  with a rank window. Per-task memory is bounded by the shard size, not by
  the hottest term's full posting list.
* ``bm25_topk_indexed`` — single-query convenience wrapper over the same
  path.
"""

from __future__ import annotations

import os
import warnings

import numpy as np
import pandas as pd
import pyspark
from py4j.protocol import Py4JError, Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from audioflux_spark.functions.bm25 import idf_value
from audioflux_spark.functions.codec import varint_decode
from audioflux_spark.operators.topk import query_terms
from audioflux_spark.sources.segments import IndexReader

_EPS = 1e-9

# default docs per WAND shard: sized so a shard's postings (worst case every
# doc matching every query term) stay comfortably in one task's memory
DEFAULT_SHARD_DOCS = 4_000_000


def _block_ends(firsts: np.ndarray, last_doc: int) -> np.ndarray:
    """Safe per-block end docIDs: no doc lives between one block's last and
    the next block's first, so next_first - 1 bounds a block; the row-level
    last_doc bounds the final block."""
    ends = np.empty(firsts.size, dtype=np.int64)
    if firsts.size:
        ends[:-1] = firsts[1:] - 1
        ends[-1] = last_doc
    return ends


def _byte_offsets(lengths) -> np.ndarray:
    """Start offset of every block in its blob (plus the end), from the
    per-block byte lengths."""
    ln = np.asarray(lengths, dtype=np.int64)
    out = np.empty(ln.size + 1, dtype=np.int64)
    out[0] = 0
    np.cumsum(ln, out=out[1:])
    return out


class _TermBlocks:
    """Lazy per-block posting decoder for one (term, generation) row.

    Parses only block metadata up front; ``candidates(lo, hi)`` varint-decodes
    just the blocks overlapping [lo, hi), each at most once (cached). A block
    is self-contained: its stored first docID re-anchors the delta chain, so
    decoding needs no bytes before the block (true byte skipping).
    """

    __slots__ = (
        "firsts", "ends", "ubs", "counts", "doc_off", "tf_off", "dl_off",
        "doc_mv", "tf_mv", "dl_mv", "idf", "k1", "b", "avgdl", "_cache",
        "blocks_decoded",
    )

    def __init__(self, row, avgdl: float, k1: float, b: float, idf: float,
                 ub_scale: float):
        self.counts = np.asarray(row["block_counts"], dtype=np.int64)
        self.firsts = np.asarray(row["block_firsts"], dtype=np.int64)
        self.ubs = idf * ub_scale * np.asarray(row["block_maxes"], dtype=np.float64)
        self.ends = _block_ends(self.firsts, int(row["last_doc"]))
        self.doc_off = _byte_offsets(row["block_doc_bytes"])
        self.tf_off = _byte_offsets(row["block_tf_bytes"])
        self.dl_off = _byte_offsets(row["block_dl_bytes"])
        self.doc_mv = memoryview(bytes(row["doc_blob"]))
        self.tf_mv = memoryview(bytes(row["tf_blob"]))
        self.dl_mv = memoryview(bytes(row["dl_blob"]))
        self.idf, self.k1, self.b, self.avgdl = idf, k1, b, avgdl
        self._cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self.blocks_decoded = 0

    def _block(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        got = self._cache.get(i)
        if got is not None:
            return got
        c = int(self.counts[i])
        gaps = varint_decode(
            self.doc_mv[self.doc_off[i]:self.doc_off[i + 1]], c
        ).astype(np.int64)
        docs = self.firsts[i] + np.cumsum(gaps) - gaps[0]
        tf = varint_decode(
            self.tf_mv[self.tf_off[i]:self.tf_off[i + 1]], c
        ).astype(np.float64)
        dl = varint_decode(
            self.dl_mv[self.dl_off[i]:self.dl_off[i + 1]], c
        ).astype(np.float64)
        contrib = self.idf * tf * (self.k1 + 1.0) / (
            tf + self.k1 * (1.0 - self.b + self.b * dl / self.avgdl)
        )
        self._cache[i] = (docs, contrib)
        self.blocks_decoded += 1
        return docs, contrib

    def candidates(self, lo: int, hi: int) -> tuple[list, list]:
        """Decoded (docs, contribs) pieces overlapping docID range [lo, hi)."""
        bi = int(np.searchsorted(self.ends, lo, side="left"))
        bj = int(np.searchsorted(self.firsts, hi, side="left"))
        out_d, out_c = [], []
        for i in range(bi, bj):
            docs, contrib = self._block(i)
            s = int(np.searchsorted(docs, lo, side="left"))
            e = int(np.searchsorted(docs, hi, side="left"))
            if e > s:
                out_d.append(docs[s:e])
                out_c.append(contrib[s:e])
        return out_d, out_c


def wand_topk_kernel(
    term_rows: list,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    idfs: list[float] | None = None,
    ub_scale: float = 1.0,
    doc_lo: int | None = None,
    doc_hi: int | None = None,
    stats_out: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Block-max pruned top-k. Returns (doc_ids, scores) sorted by
    (score desc, doc_id asc); len may exceed k only by docs TYING the k-th
    score (docIDs are only key-ordered within a build partition, so boundary
    ties must be resolved by the caller against the real (conv_id, turn_idx)
    keys — the ENTIRE tie group is kept, never truncated). idfs defaults to
    per-row Lucene idf from (n_docs, row df) — pass explicit values for
    multi-generation/sharded indexes where df is global. doc_lo/doc_hi
    restrict scoring to an exact docID range (WAND sharding)."""
    if not term_rows or k <= 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    if idfs is None:
        idfs = [idf_value(n_docs, int(r["df"])) for r in term_rows]

    terms = [
        _TermBlocks(r, avgdl, k1, b, i, ub_scale)
        for r, i in zip(term_rows, idfs)
    ]

    # elementary intervals from the union of block boundaries
    points = np.unique(
        np.concatenate(
            [t.firsts for t in terms] + [t.ends + 1 for t in terms]
        )
    )
    if doc_lo is not None or doc_hi is not None:
        lo = doc_lo if doc_lo is not None else int(points[0])
        hi = doc_hi if doc_hi is not None else int(points[-1])
        points = points[(points > lo) & (points < hi)]
        points = np.concatenate(([lo], points, [hi]))
    n_iv = points.size - 1
    total_ub = np.zeros(max(n_iv, 0), dtype=np.float64)
    for t in terms:
        ix = np.searchsorted(t.firsts, points[:-1], side="right") - 1
        valid = (ix >= 0) & (
            points[:-1] <= t.ends[np.clip(ix, 0, t.ends.size - 1)]
        )
        total_ub += np.where(valid, t.ubs[np.clip(ix, 0, t.ubs.size - 1)], 0.0)

    order = np.argsort(-total_ub, kind="stable")

    # bounded top-k state, kept sorted by (score desc, doc_id asc); a doc
    # belongs to exactly one elementary interval, so merges never duplicate
    top_d = np.zeros(0, dtype=np.int64)
    top_s = np.zeros(0, dtype=np.float64)
    theta = -np.inf

    for iv in order:
        if top_d.size >= k and total_ub[iv] < theta - _EPS:
            break
        lo_iv, hi_iv = int(points[iv]), int(points[iv + 1])
        cand_docs: list = []
        cand_scores: list = []
        for t in terms:
            ds, cs = t.candidates(lo_iv, hi_iv)
            cand_docs.extend(ds)
            cand_scores.extend(cs)
        if not cand_docs:
            continue
        docs = np.concatenate(cand_docs)
        scores = np.concatenate(cand_scores)
        u_docs, inv = np.unique(docs, return_inverse=True)
        u_scores = np.zeros(u_docs.size, dtype=np.float64)
        np.add.at(u_scores, inv, scores)
        all_d = np.concatenate([top_d, u_docs])
        all_s = np.concatenate([top_s, u_scores])
        sel = np.lexsort((all_d, -all_s))
        if sel.size > k:
            s_sorted = all_s[sel]
            kth = s_sorted[k - 1]
            # keep every doc tying the k-th score (never truncate the tie
            # group: the caller's key-based tie-break must see all of them)
            cutoff = int(np.searchsorted(-s_sorted, -kth, side="right"))
            sel = sel[:cutoff]
        top_d, top_s = all_d[sel], all_s[sel]
        if top_d.size >= k:
            theta = top_s[k - 1]

    if stats_out is not None:
        stats_out["blocks_total"] = int(sum(t.counts.size for t in terms))
        stats_out["blocks_decoded"] = int(sum(t.blocks_decoded for t in terms))
    return top_d, top_s


_SHARDED_COLS = (
    "query_id string, gen int, shard int, k int, term string, gdf long, "
    "df long, last_doc long, doc_blob binary, tf_blob binary, dl_blob binary, "
    "block_counts array<int>, block_firsts array<long>, block_maxes array<double>, "
    "block_doc_bytes array<int>, block_tf_bytes array<int>, block_dl_bytes array<int>"
)
_SHARDED_SCHEMA = _SHARDED_COLS + ", range_lo long, range_hi long"
# phrase path: position blobs ride along, sliced by the same block arithmetic
_SHARDED_POS_SCHEMA = (
    _SHARDED_COLS + ", pos_blob binary, block_pos_bytes array<int>, "
    "range_lo long, range_hi long"
)


def _make_shard_splitter(gen_ndocs: dict[int, int], shard_docs: int,
                         include_pos: bool = False):
    """mapInPandas splitter: one (query, term, gen) segment row → one sub-row
    per docID-range shard it overlaps, with posting blobs BYTE-SLICED to the
    overlapping block range (per-block byte lengths make slicing pure
    arithmetic — no decode). Shards partition the docID space exactly; a
    block straddling a boundary is sent to both sides and the kernel clips to
    [range_lo, range_hi), so every doc is scored in exactly one shard with
    all its terms present. With ``include_pos``, position blobs are sliced by
    the same per-block byte lengths (block_pos_bytes) — the substrate for
    doc-range-sharded PHRASE matching (a Zipf-head phrase term's positions
    never land in one task)."""
    blob_cols = [("doc_blob", "block_doc_bytes"), ("tf_blob", "block_tf_bytes"),
                 ("dl_blob", "block_dl_bytes")]
    if include_pos:
        blob_cols.append(("pos_blob", "block_pos_bytes"))

    def split(batches):
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in [
                "query_id", "gen", "shard", "k", "term", "gdf", "df",
                "last_doc", "doc_blob", "tf_blob", "dl_blob", "block_counts",
                "block_firsts", "block_maxes", "block_doc_bytes",
                "block_tf_bytes", "block_dl_bytes",
                *(["pos_blob", "block_pos_bytes"] if include_pos else []),
                "range_lo", "range_hi",
            ]}
            # loop over SEGMENT rows (per-term metadata — bounded by query
            # terms × generations, not by postings); all per-posting work
            # inside is numpy slicing on flat buffers
            for row in pdf.to_dict("records"):
                gen = int(row["gen"])
                n_docs_g = gen_ndocs.get(gen, 0)
                n_shards = max((n_docs_g + shard_docs - 1) // shard_docs, 1)
                firsts = np.asarray(row["block_firsts"], dtype=np.int64)
                counts = np.asarray(row["block_counts"], dtype=np.int64)
                ends = _block_ends(firsts, int(row["last_doc"]))
                offs = {lcol: _byte_offsets(row[lcol]) for _, lcol in blob_cols}
                blobs = {bcol: bytes(row[bcol]) for bcol, _ in blob_cols}
                maxes = np.asarray(row["block_maxes"], dtype=np.float64)
                for s in range(n_shards):
                    lo = s * shard_docs
                    hi = min((s + 1) * shard_docs, n_docs_g) if n_shards > 1 else n_docs_g
                    bi = int(np.searchsorted(ends, lo, side="left"))
                    bj = int(np.searchsorted(firsts, hi, side="left"))
                    if bj <= bi:
                        continue
                    out["query_id"].append(row["query_id"])
                    out["gen"].append(gen)
                    out["shard"].append(s)
                    out["k"].append(int(row["k"]))
                    out["term"].append(row["term"])
                    out["gdf"].append(int(row["gdf"]))
                    out["df"].append(int(row["df"]))
                    out["last_doc"].append(int(ends[bj - 1]))
                    for col, bo in blob_cols:
                        o = offs[bo]
                        out[col].append(blobs[col][o[bi]:o[bj]])
                        out[bo].append(
                            (o[bi + 1:bj + 1] - o[bi:bj]).astype(np.int32)
                        )
                    out["block_counts"].append(counts[bi:bj].astype(np.int32))
                    out["block_firsts"].append(firsts[bi:bj])
                    out["block_maxes"].append(maxes[bi:bj])
                    out["range_lo"].append(lo)
                    out["range_hi"].append(hi)
            if out["query_id"]:
                yield pd.DataFrame(out)

    return split


def _docstore_keys(docstore_dir: str, doc_ids: np.ndarray) -> pd.DataFrame:
    """(doc_id, conv_id, turn_idx) for the given docIDs, read with pyarrow
    directly inside the executor task: docstore files are doc_id-sorted, so
    the isin filter prunes to ~|doc_ids| row groups via parquet statistics.
    This folds the key lookup into the scoring job — serving pays ONE Spark
    job instead of scoring + lookup."""
    import pyarrow.dataset as pads

    dset = pads.dataset(docstore_dir, format="parquet", partitioning="hive")
    tbl = dset.to_table(
        columns=["doc_id", "conv_id", "turn_idx"],
        filter=pads.field("doc_id").isin([int(d) for d in doc_ids]),
    )
    return tbl.to_pandas()


def _make_score_shard(
    gen_docstore: dict[int, str],
    gen_avgdl: dict[int, float],
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    resolve_keys: bool,
):
    """Per-(query, gen, shard) scoring function over READER-CONSTANT state
    only (no per-query capture) — so the single-query path can build its
    serialized UDF once per reader and reuse it across queries."""

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        k = int(pdf["k"].iloc[0])
        gen_id = int(pdf["gen"].iloc[0])
        rows = pdf.to_dict("records")  # one C-level conversion, no .iloc loop
        idfs = [idf_value(n_docs, int(r["gdf"])) for r in rows]
        ga = gen_avgdl.get(gen_id, avgdl)
        ub_scale = max(1.0, avgdl / ga) if ga else 1.0
        doc_ids, scores = wand_topk_kernel(
            rows, n_docs, avgdl, k1, b, k, idfs=idfs, ub_scale=ub_scale,
            doc_lo=int(pdf["range_lo"].iloc[0]),
            doc_hi=int(pdf["range_hi"].iloc[0]),
        )
        out = pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "gen": gen_id,
                "doc_id": doc_ids,
                "score": scores,
                "k": k,
            }
        )
        if resolve_keys:
            if len(out):
                keys = _docstore_keys(gen_docstore[gen_id], doc_ids)
                out = out.merge(keys, on="doc_id", how="left")
            else:
                out = out.assign(
                    conv_id=pd.Series(dtype=str), turn_idx=pd.Series(dtype="int32")
                )
            out = out[
                ["query_id", "gen", "doc_id", "conv_id", "turn_idx", "score", "k"]
            ]
        return out

    return score_shard


_HITS_SCHEMA = "query_id string, gen int, doc_id long, score double, k int"
_HITS_SCHEMA_KEYS = (
    "query_id string, gen int, doc_id long, conv_id string, "
    "turn_idx int, score double, k int"
)


# The private mapInPandas surface of _map_in_pandas_cached (3-arg
# ``_jdf.mapInPandas`` plus ``_build_java_profile``) is verified against
# PySpark 4.1 only; any other version takes the public API.
_PRIVATE_MAP_VERIFIED = tuple(int(p) for p in pyspark.__version__.split(".")[:2]) == (4, 1)


def _serving_udf(reader: IndexReader, resolve_keys: bool):
    """(pandas_udf, plain_fn, schema) for the single-(query, gen, shard)
    scoring task, cached on the reader instance. The closure captures only
    reader-constant state, so one serialized UDF serves every query — the
    per-call mapInPandas path re-cloudpickles the scoring closure on EVERY
    query (~40 ms of driver time per query; guide §4: pay heavyweight init
    once)."""
    cache = getattr(reader, "_wand_udf_cache", None)
    if cache is None:
        cache = {}
        reader._wand_udf_cache = cache
    hit = cache.get(resolve_keys)
    if hit is not None:
        return hit

    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.util import PythonEvalType

    score_shard = _make_score_shard(
        {g.gen_id: os.path.join(g.dir, "docstore") for g in reader.generations},
        {g.gen_id: (g.meta.encode_avgdl or g.meta.avgdl) for g in reader.generations},
        reader.n_docs,
        reader.avgdl,
        reader.meta.k1,
        reader.meta.b,
        resolve_keys,
    )

    def score_one(batches):
        frames = [p for p in batches if len(p)]
        if frames:
            yield score_shard(pd.concat(frames, ignore_index=True))

    schema = _HITS_SCHEMA_KEYS if resolve_keys else _HITS_SCHEMA
    udf = pandas_udf(
        score_one, returnType=schema,
        functionType=PythonEvalType.SQL_MAP_PANDAS_ITER_UDF,
    )
    cache[resolve_keys] = {
        "udf": udf, "fn": score_one, "schema": schema,
        "private_ok": _PRIVATE_MAP_VERIFIED, "jc": {},
    }
    return cache[resolve_keys]


def _map_in_pandas_cached(df: DataFrame, entry, cols: list[str]) -> DataFrame:
    """df.mapInPandas with a pre-built (already-serialized) pandas UDF.

    Replicates mapInPandas's four lines (pyspark/sql/pandas/map_ops.py)
    against the cached UDF object, whose ``_judf`` — the cloudpickled
    function + JVM UserDefinedPythonFunction — is created once and reused
    (pyspark caches it on the UserDefinedFunction instance). The applied
    UDF *expression* (UDF over the given column names, unresolved
    attributes) is likewise built once per column list and re-resolved
    against each query's child plan, skipping ~20 per-query Column py4j
    round-trips. If the private surface has moved (a missing attribute, a
    changed Python or JVM signature), warns and uses the public API
    (identical semantics, per-call pickling) for this entry from then on."""
    udf, fn, schema = entry["udf"], entry["fn"], entry["schema"]
    if entry["private_ok"]:
        try:
            jc = entry["jc"].get(tuple(cols))
            if jc is None:
                jc = entry["jc"][tuple(cols)] = udf(*[F.col(c) for c in cols])._jc
            jdf = df._jdf.mapInPandas(jc, False, df._build_java_profile(None))
            return DataFrame(jdf, df.sparkSession)
        except Py4JJavaError:
            raise  # the JVM method ran and failed: a real error, not a moved surface
        except (AttributeError, TypeError, Py4JError) as e:
            entry["private_ok"] = False
            warnings.warn(
                f"private mapInPandas surface unavailable ({e!r}); "
                "this reader serves through the public API from now on",
                RuntimeWarning,
                stacklevel=2,
            )
    return df.mapInPandas(fn, schema=schema)


def _sharded_hits(
    reader: IndexReader,
    queries: list[tuple[str, str, int]],
    shard_docs: int,
    resolve_keys: bool = False,
) -> DataFrame | None:
    """Scored candidates per (query, generation, shard):
    (query_id, gen, doc_id, score, k) with exact global BM25 scores and whole
    tie groups kept. All scoring runs in executor tasks; no posting blob ever
    reaches the driver. With ``resolve_keys``, each scoring task also resolves
    its hits' (conv_id, turn_idx) against the generation's docstore via a
    pyarrow row-group-pruned read — the single-job serving path."""
    from functools import reduce

    spark = reader.spark
    gen_docstore = {
        g.gen_id: os.path.join(g.dir, "docstore") for g in reader.generations
    }
    k1, b = reader.meta.k1, reader.meta.b
    n_docs, avgdl = reader.n_docs, reader.avgdl
    # per-generation ENCODE avgdl (≤ the gen's final avgdl after partial
    # rebuilds): bounds widen by the ratio so block maxes stay safe
    gen_avgdl = {
        g.gen_id: (g.meta.encode_avgdl or g.meta.avgdl) for g in reader.generations
    }
    gen_ndocs = {g.gen_id: g.meta.n_docs for g in reader.generations}

    qrows = []
    for qid, text, k in queries:
        for t in query_terms(text):
            qrows.append((qid, t, k))
    if not qrows:
        return None
    # literal `term IN (...)` BEFORE any join: the query terms are known on
    # the driver, and the predicate prunes term-sorted parquet files / row
    # groups (or the cached table) without touching blob columns — a join
    # alone would probe every segment row
    terms_all = sorted({t for _, t, _ in qrows})

    if (
        len(queries) == 1
        and len(reader.generations) == 1
        and reader.generations[0].meta.n_docs <= shard_docs
    ):
        # SERVING FAST PATH (single query, single generation, single shard):
        # the general construction below costs ~0.15 s of DRIVER time per
        # query — a dozen withColumn/drop py4j round-trips plus a fresh
        # cloudpickle of the scoring closure inside mapInPandas. Build the
        # identical plan as ONE filter + ONE select (term-IN pushdown
        # unchanged) and score through the reader-cached, pre-serialized
        # UDF. Same columns, same kernel, same results. What a query then
        # costs is mostly JVM CPU (analysis, scheduling, scan): on 4 cores
        # with a warm session, per query ~0.2 s JVM, ~0.05 s Python worker
        # and ~0.02 s driver CPU, ~0.15 s wall. The worker's share stays
        # small only while plans/pyworker.py keeps PySpark's per-task set-up
        # from re-reading every zip on the worker's path.
        g = reader.generations[0]
        qid, _text, k0 = queries[0]
        cached = getattr(g, "_wand_fast_cols", None)
        if cached is None:
            keep = [
                c for c in g.segments.columns
                if c not in ("pos_blob", "block_pos_bytes")
            ]
            # reader-constant Column expressions built once (unresolved
            # attribute/literal trees are immutable — safe to re-resolve
            # against each query's child plan); only query_id/k vary per call
            cached = (
                keep,
                [
                    F.lit(g.gen_id).alias("gen"),
                ],
                [
                    F.col("df").alias("gdf"),
                    F.lit(0).alias("shard"),
                    F.lit(0).cast("long").alias("range_lo"),
                    F.lit(int(g.meta.n_docs)).cast("long").alias("range_hi"),
                ],
            )
            g._wand_fast_cols = cached
        keep, gen_cols, tail_cols = cached
        plan = (
            g.segments.filter(F.col("term").isin(terms_all))
            .select(
                *keep,
                *gen_cols,
                F.lit(qid).alias("query_id"),
                F.lit(int(k0)).alias("k"),
                *tail_cols,
            )
            .coalesce(1)
        )
        plan_cols = keep + [
            "gen", "query_id", "k", "gdf", "shard", "range_lo", "range_hi"
        ]
        return _map_in_pandas_cached(
            plan, _serving_udf(reader, resolve_keys), plan_cols
        )

    seg_union = reduce(
        DataFrame.unionByName,
        [
            g.segments.drop("pos_blob", "block_pos_bytes")
            .filter(F.col("term").isin(terms_all))
            .withColumn("gen", F.lit(g.gen_id))
            for g in reader.generations
        ],
    )
    if len(queries) == 1:
        # single query: query_id/k become literal columns — no query-table
        # createDataFrame, no broadcast-exchange job (serving latency path)
        qid, _text, k0 = queries[0]
        joined = seg_union.withColumn("query_id", F.lit(qid)).withColumn(
            "k", F.lit(int(k0))
        )
    else:
        qdf = spark.createDataFrame(qrows, "query_id string, term string, k int")
        joined = seg_union.join(F.broadcast(qdf), on="term")
    if len(reader.generations) == 1:
        # a term appears at most once per generation → df IS the global df
        joined = joined.withColumn("gdf", F.col("df"))
    else:
        # global df per (query, term) = sum over generations — aggregated on
        # the pruned columns only and broadcast back (blobs shuffle exactly
        # once, into the shard split)
        gdf = joined.groupBy("query_id", "term").agg(F.sum("df").alias("gdf"))
        joined = joined.join(F.broadcast(gdf), on=["query_id", "term"])

    single_shard = all(n <= shard_docs for n in gen_ndocs.values())
    if single_shard:
        # one shard per generation — skip the splitter's Python exchange
        range_hi = F.col("gen")
        for gid, n in gen_ndocs.items():
            range_hi = F.when(F.col("gen") == gid, F.lit(n)).otherwise(range_hi)
        sharded = (
            joined.withColumn("shard", F.lit(0))
            .withColumn("range_lo", F.lit(0).cast("long"))
            .withColumn("range_hi", range_hi.cast("long"))
        )
    else:
        sharded = joined.mapInPandas(
            _make_shard_splitter(gen_ndocs, shard_docs), schema=_SHARDED_SCHEMA
        )

    score_shard = _make_score_shard(
        gen_docstore, gen_avgdl, n_docs, avgdl, k1, b, resolve_keys
    )
    out_schema = _HITS_SCHEMA_KEYS if resolve_keys else _HITS_SCHEMA
    # (the single-query/single-gen/single-shard case returned above through
    # the cached-UDF fast path — this is the distributed many-group shape)
    return sharded.groupBy("query_id", "gen", "shard").applyInPandas(
        score_shard, schema=out_schema
    )


def bm25_topk_many(
    reader: IndexReader,
    queries: list[tuple[str, str, int]],
    shard_docs: int = DEFAULT_SHARD_DOCS,
) -> DataFrame:
    """Distributed batch query path: [(query_id, query_text, k)] → doc-range
    sharded block-max WAND, one task per (query, generation, shard).

    Scale shape: the query table is tiny and broadcast into a join against
    the term-sorted segment table (broadcast-hash join whose probe side is
    pruned by term min/max); the shard splitter byte-slices each matching
    blob so the shuffle into applyInPandas carries each posting byte exactly
    once (± boundary blocks) and NO task ever holds a hot term's full list.
    Per-shard top-k with global (N, avgdl, df) is exact, so the final rank
    window is a pure k-way merge. No posting blob ever reaches the driver.

    r6: the hits side (≤ Σ k+ties rows) is explicitly BROADCAST into the
    docstore key join — the planner has no size estimate for the
    applyInPandas output, so it previously picked a sort-merge join that
    shuffled and sorted the ENTIRE docstore to attach keys to a few
    hundred result rows (guide §3.1: hint the join when you know a side is
    small; measured 1.68 s → 1.55 s on the 24-query batch, and at corpus
    scale the docstore shuffle it removes grows with N while the hits side
    stays O(Σk)).
    """
    from functools import reduce

    from pyspark.sql.window import Window

    hits = _sharded_hits(reader, queries, shard_docs)
    if hits is None:
        return reader.spark.createDataFrame(
            [],
            "query_id string, conv_id string, turn_idx int, score double, rank int",
        )
    ds_union = reduce(
        DataFrame.unionByName,
        [
            g.docstore.select(
                F.lit(g.gen_id).alias("gen"), "doc_id", "conv_id", "turn_idx"
            )
            for g in reader.generations
        ],
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("conv_id").asc(), F.col("turn_idx").asc()
    )
    return (
        F.broadcast(hits).join(ds_union, on=["gen", "doc_id"])
        .withColumn("rank", F.row_number().over(w) - 1)
        .filter(F.col("rank") < F.col("k"))
        .select("query_id", "conv_id", "turn_idx", "score", "rank")
    )


def bm25_topk_indexed(
    reader: IndexReader,
    query_text: str,
    k: int = 10,
    shard_docs: int = DEFAULT_SHARD_DOCS,
) -> DataFrame:
    """Single-query top-k via the compressed index; returns
    (conv_id, turn_idx, score) in (score desc, conv_id, turn_idx) order.

    Serving-latency shape: ONE Spark job at collect time. The scoring kernel
    runs in executor tasks against byte-sliced blobs (same path as
    bm25_topk_many), and each scoring task also resolves its hits'
    (conv_id, turn_idx) keys against the generation's docstore via a pyarrow
    row-group-pruned read (docIDs are sorted within docstore partitions, so
    the isin filter reads ~k row groups). The final top-k is Sort+Limit over
    the ≤k+ties hit rows — planned as TakeOrderedAndProject, so the driver
    receives only RESULT rows, never posting blobs. Multi-generation stats
    (N, avgdl, df) are global, so scores are exact global BM25; ties resolve
    by the real (conv_id, turn_idx) keys (rank-identical to the oracle
    regardless of docID assignment order)."""
    hits = _sharded_hits(reader, [("q", query_text, k)], shard_docs, resolve_keys=True)
    if hits is None or k <= 0:
        # empty frame built only on this cold branch — the createDataFrame
        # (py4j + DDL parse) cost ~15 ms per query when unconditional
        return reader.spark.createDataFrame(
            [], "conv_id string, turn_idx int, score double"
        )
    # final top-k as Sort+Limit over the ≤ k+ties/shard hit rows: Spark plans
    # it as TakeOrderedAndProject (bounded per-partition heaps, no exchange),
    # so the whole query stays ONE job at collect time — the previous
    # toPandas-merge-createDataFrame shape paid a second (trivial but
    # job-scheduled) round trip of ~30-80 ms per query just to re-wrap the
    # driver-merged rows. Full ordering key ⇒ deterministic, identical rows.
    return (
        hits.select("conv_id", "turn_idx", "score")
        .orderBy(
            F.col("score").desc(), F.col("conv_id").asc(), F.col("turn_idx").asc()
        )
        .limit(k)
    )
