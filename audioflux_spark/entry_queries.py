"""Driver-facing query surface: Spark implementations + DuckDB oracle SQL.

Every entry runs the engine's operators over the driver's star-schema tables
(/root/testdata/sf*/...), adapted to the transcripts shape where relevant
(sources/transcripts.documents_as_transcripts), and carries an ANSI-SQL twin
the driver executes in DuckDB for row/schema/value-hash comparison.

Float discipline: every fractional value is exported as CAST(ROUND(x*1e6) AS
BIGINT) (`*_e6` columns) in BOTH engines, so value hashes compare integers —
the engines' last-ulp differences (different sum orders, different libm) stay
far below the 1e-6 grid.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from audioflux_spark.config import DEFAULT, EngineConfig, IndexConfig
from audioflux_spark.functions.analyzer import tokens_col
from audioflux_spark.operators.indexer import build_index
from audioflux_spark.operators.tokenize import corpus_stats, doc_stats, term_freqs
from audioflux_spark.operators.topk import (
    bm25_topk_conjunctive,
    bm25_topk_exhaustive,
)
from audioflux_spark.operators.wand import bm25_topk_indexed
from audioflux_spark.sources.segments import IndexReader
from audioflux_spark.sources.transcripts import documents_as_transcripts

K1, B = DEFAULT.bm25.k1, DEFAULT.bm25.b

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on"]

# ---------------------------------------------------------------- helpers

_TOK_SQL = (
    "SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), "
    "'[^a-z0-9_]+'), x -> x <> '')) AS term FROM documents"
)



def _epoch_ntz(col_name: str) -> F.Column:
    """Seconds since epoch of a NAIVE timestamp, independent of the session
    timezone (the driver's own SparkSession may not be UTC): pure ntz
    arithmetic, matching DuckDB's epoch(ts) on naive timestamps."""
    return F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        f"CAST({col_name} AS TIMESTAMP_NTZ))"
    )

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens_col("text")).alias("term")
    )


def _e6(col) -> F.Column:
    return F.round(col * F.lit(1000000.0)).cast("long")


def _session_cached(cache: dict, spark: SparkSession, sf_dir: str, build):
    """Materialize-once cache keyed by (owning session, corpus dir, corpus
    fingerprint).

    A cached DataFrame's plan is bound to the SparkSession that created it;
    if that session was stopped and a new one created in the same process
    (multi-fixture test runs, driver re-init), replaying the cached plan
    fails against a dead session. Entries therefore record their owner and
    are rebuilt (old persist evicted best-effort) whenever the caller's
    session differs — and, r6, whenever the corpus fingerprint changes
    (documents.parquet size+mtime): regenerating a corpus dir in place
    mid-session would otherwise keep serving the old corpus's persisted
    rows. One os.stat per lookup; entries for a stale fingerprint are
    evicted, so the cache stays bounded by live (dir, fingerprint) pairs."""
    key = f"{sf_dir}|{_corpus_fp(sf_dir)}"
    ent = cache.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    stale = [k for k in cache if k.startswith(f"{sf_dir}|")]
    for k in stale:
        try:
            cache.pop(k)[1].unpersist()
        except Exception:
            pass  # previous session already stopped; its cache died with it
    df = build()
    cache[key] = (spark, df)
    return df


_READERS: dict[str, tuple[SparkSession, IndexReader]] = {}


_ENTRY_CFG = EngineConfig(index=IndexConfig(store_positions=True))


def _reader(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Build (once per sf_dir, resumable) a POSITIONAL index over documents-
    as-transcripts; cached across queries in the same session (re-opened if
    the owning session was replaced — the on-disk index itself is reused)."""
    ent = _READERS.get(sf_dir)
    if ent is not None and ent[0] is spark:
        return ent[1]
    tag = hashlib.md5(f"{sf_dir}:fmt5pos".encode()).hexdigest()[:10]
    idx = os.path.join("/tmp/afspark_entry_idx", tag)
    t = documents_as_transcripts(spark, sf_dir)
    build_index(spark, t, idx, cfg=_ENTRY_CFG, resume=True)
    reader = IndexReader(spark, idx)
    _READERS[sf_dir] = (spark, reader)
    return reader


def _topk_to_docids(df: DataFrame) -> DataFrame:
    """(conv_id='doc-%012d', turn_idx, score) → (doc_id, score_e6), preserving
    the engine's total order (docID order == conv_id order)."""
    return df.select(
        F.substring("conv_id", 5, 12).cast("long").alias("doc_id"),
        _e6(F.col("score")).alias("score_e6"),
    )


def _bm25_sql(
    terms: list[str], k: int, where: str = "", conjunctive: bool = False
) -> str:
    terms_in = ", ".join(f"'{t}'" for t in terms)
    pred = f"WHERE {where}" if where else ""
    # AND semantics: the tf CTE holds one row per (doc, term), so a doc
    # contains every query term iff its group has len(terms) rows
    having = f"HAVING count(*) = {len(terms)}" if conjunctive else ""
    return f"""
WITH docs_f AS (SELECT * FROM documents {pred}),
tok AS ({_TOK_SQL.replace("FROM documents", "FROM docs_f")}),
dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM tok GROUP BY doc_id),
corpus AS (
  SELECT (SELECT count(*) FROM docs_f)::DOUBLE AS n_docs,
         (SELECT sum(doc_len) FROM dl) / (SELECT count(*) FROM docs_f) AS avgdl
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ({terms_in}) GROUP BY doc_id, term),
idf AS (SELECT term, ln(1 + ((SELECT n_docs FROM corpus) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
        FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(idf.idf * tf.tf * {K1 + 1.0} /
             (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / (SELECT avgdl FROM corpus)))) AS score
  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
  GROUP BY tf.doc_id
  {having}
)
SELECT doc_id, CAST(ROUND(score * 1000000) AS BIGINT) AS score_e6
FROM scored ORDER BY score DESC, doc_id LIMIT {k}
"""


# ---------------------------------------------------------------- engine core


def q_bm25_topk_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed block-max WAND over hot terms (every term is Zipf-hot here)."""
    return _topk_to_docids(bm25_topk_indexed(_reader(spark, sf_dir), "join hash row", 20))


def q_bm25_topk_rare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed WAND, rare+hot conjunction ('dup' has df≈5% of corpus)."""
    return _topk_to_docids(bm25_topk_indexed(_reader(spark, sf_dir), "dup the", 25))


def q_bm25_topk_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-Catalyst exhaustive scoring path (no index) — same semantics."""
    t = documents_as_transcripts(spark, sf_dir)
    tf_df = term_freqs(t)
    ds_df = doc_stats(t)
    stats = corpus_stats(t)
    return _topk_to_docids(
        bm25_topk_exhaustive(tf_df, ds_df, stats, "dup window", 15)
    )


def q_bm25_topk_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-AND retrieval: only docs containing BOTH 'dup' (rare,
    df≈5%) and 'window' (hot) are candidates, BM25-ranked — the AND
    counterpart of q_bm25_topk_exhaustive's OR semantics over the same
    query (OR top-k can't be post-filtered into this; see
    operators/topk.bm25_topk_conjunctive)."""
    t = documents_as_transcripts(spark, sf_dir)
    return _topk_to_docids(
        bm25_topk_conjunctive(
            term_freqs(t), doc_stats(t), corpus_stats(t), "dup window", 15
        )
    )


def q_bm25_topk_lang_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-filtered search (the reference's band-edge predicate,
    /root/reference/python/audioflux/feature/spectral.py:61-118, as a WHERE):
    the filter pushes into the parquet scan; the engine then runs on the
    sub-corpus, so scores are the sub-corpus BM25 (documented semantics)."""
    t = documents_as_transcripts(spark, sf_dir, where="lang = 'en'")
    return _topk_to_docids(
        bm25_topk_exhaustive(
            term_freqs(t), doc_stats(t), corpus_stats(t), "join hash", 15
        )
    )


_INCR_READERS: dict[str, tuple[SparkSession, IndexReader, IndexReader]] = {}


def _incr_readers(spark: SparkSession, sf_dir: str) -> tuple[IndexReader, IndexReader]:
    """(two-generation reader, compacted reader) over the documents corpus
    split in half by doc_id — the incremental-maintenance correctness rig:
    generations and compaction must both answer EXACTLY like a one-shot
    build (and therefore like the SQL oracle on the full corpus). Cached per
    (session, sf_dir); the on-disk index is reused across sessions."""
    ent = _INCR_READERS.get(sf_dir)
    if ent is None or ent[0] is not spark:
        from audioflux_spark.streaming.incremental import add_generation, compact_index

        tag = hashlib.md5(f"{sf_dir}:incr-fmt6".encode()).hexdigest()[:10]
        base = os.path.join("/tmp/afspark_entry_idx", f"incr_{tag}")
        compacted = base + "_compacted"
        first = documents_as_transcripts(spark, sf_dir, where="doc_id % 2 = 0")
        second = documents_as_transcripts(spark, sf_dir, where="doc_id % 2 = 1")
        build_index(spark, first, base, cfg=_ENTRY_CFG, resume=True)
        gen_root = os.path.join(base, "generations")
        gen_dirs = (
            sorted(d for d in os.listdir(gen_root) if d.startswith("gen-"))
            if os.path.isdir(gen_root)
            else []
        )
        if not gen_dirs:
            multi = add_generation(spark, second, base, cfg=_ENTRY_CFG)
        else:
            # a prior run may have crashed mid-generation: meta.json is the
            # build's LAST write, so its absence marks a half-built gen —
            # resume its build instead of silently serving a partial index
            newest = os.path.join(gen_root, gen_dirs[-1])
            if not os.path.exists(os.path.join(newest, "meta.json")):
                build_index(spark, second, newest, cfg=_ENTRY_CFG, resume=True)
            multi = IndexReader(spark, base)
        if not os.path.exists(os.path.join(compacted, "meta.json")):
            comp = compact_index(spark, base, compacted, cfg=_ENTRY_CFG)
        else:
            comp = IndexReader(spark, compacted)
        _INCR_READERS[sf_dir] = (spark, multi, comp)
    return _INCR_READERS[sf_dir][1], _INCR_READERS[sf_dir][2]


def q_bm25_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over a TWO-GENERATION index (corpus split doc_id even/odd, second
    half added via add_generation): cross-generation stats make scores exact
    global BM25, so the result must hash-match the one-shot SQL oracle."""
    multi, _comp = _incr_readers(spark, sf_dir)
    return _topk_to_docids(bm25_topk_indexed(multi, "join hash row", 20))


def q_bm25_topk_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same query over the COMPACTED index (the generations' partitions
    folded into one build without re-tokenizing): must also match the
    one-shot oracle."""
    _multi, comp = _incr_readers(spark, sf_dir)
    return _topk_to_docids(bm25_topk_indexed(comp, "join hash row", 20))


def q_bm25_topk_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase top-k over the POSITIONAL index: docs containing the
    token sequence, BM25-ranked with full-corpus stats."""
    from audioflux_spark.operators.phrase import bm25_topk_phrase

    return _topk_to_docids(bm25_topk_phrase(_reader(spark, sf_dir), "table window", 15))


def q_term_doc_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # over the tf artifact: each (doc, term) row is distinct, so
    # df = count(*) and total_tf = sum(tf) — no countDistinct shuffle
    return (
        _doc_tf(spark, sf_dir)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
        )
        .orderBy("term")
    )


def q_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    # doc lengths from the shared _doc_tf artifact (Σtf == doc_len_col by
    # construction) — no per-query regex tokenize of the text column
    return (
        _doc_lens(spark, sf_dir)
        .select("doc_id", F.col("len").alias("doc_len"))
        .orderBy("doc_id")
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats over the _doc_tf artifact (total = Σtf, distinct terms
    from the distinct (doc, term) rows) plus a doc_id-column count for
    n_docs (token-less docs included) — replaces the triple-distinct
    aggregation over an exploded token table, whose Expand node tripled the
    rows into the shuffle."""
    tf_agg = _doc_tf(spark, sf_dir).agg(
        F.sum("tf").alias("total_tokens"),
        F.countDistinct("term").alias("distinct_terms"),
    )
    n = _docs(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_docs"))
    return n.crossJoin(tf_agg).select(
        "n_docs",
        "total_tokens",
        "distinct_terms",
        F.round(F.col("total_tokens") / F.col("n_docs") * 1e6)
        .cast("long")
        .alias("avgdl_e6"),
    )


KMV_K = 32        # sketch size: k minimum hash values kept per group
KMV_SALTS = 64    # phase-1 fan-out for the distributed top-k


def _hex48(md: F.Column) -> F.Column:
    """First 12 hex chars of an md5 digest as a 48-bit non-negative long,
    via Horner over ascii(substr(...)) — the only hash→int path that is
    bit-identical across engines (conv()/from_hex() are not portable)."""
    acc = F.lit(0).cast("long")
    for i in range(1, 13):
        a = F.ascii(F.substring(md, i, 1))
        nib = F.when(a >= 97, a - 87).otherwise(a - 48).cast("long")
        acc = acc * F.lit(16) + nib
    return acc


def q_corpus_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch: per source, keep the
    KMV_K smallest 48-bit shingle hashes and estimate the distinct
    3-shingle count as (k-1)·2^48 / h_(k) — the cardinality a pipeline
    estimates BEFORE sizing an LSH dedup job (shingle universe ≫ the
    31-word vocab, so the estimator path actually fires on this corpus).
    The sketch is the canonical mergeable cardinality structure for a
    100 TB pipeline — per-partition top-k states merge associatively, so
    the estimate costs one map-side-combined pass — and because the hash
    and the estimator are integer-exact, the oracle reproduces it
    bit-for-bit (unlike HLL, whose estimates are engine-specific). Emits
    the estimate NEXT TO the exact distinct count and the error in ppm, so
    the sketch's accuracy is itself asserted by the driver's hash-compare.

    Scale shape: the per-doc shingle table is the shared on-disk artifact
    (_shingles — no extra tokenize pass); phase 1 prunes to ≤ KMV_K rows
    per (source, salt) — a KMV_SALTS-reducer shuffle per source, each group
    also carrying its own member count — then phase 2 ranks the ≤ salts·k
    survivors per source. The exact count is reassembled as Σ per-salt
    counts (one representative row per salt), so no single reducer ever
    sees a source's full distinct set. The two-phase result is identical
    to a direct per-source top-k."""
    src = _docs(spark, sf_dir).select("doc_id", "source")
    st = _shingles(spark, sf_dir).join(src, "doc_id").select(
        "source", "shingle"
    ).distinct()
    salted = st.select(
        "source",
        "shingle",
        _hex48(F.md5("shingle")).alias("h48"),
        F.pmod(F.xxhash64("shingle"), F.lit(KMV_SALTS)).alias("salt"),
    )
    w1 = Window.partitionBy("source", "salt")
    p1 = salted.select(
        "source",
        "shingle",
        "h48",
        F.row_number().over(w1.orderBy("h48", "shingle")).alias("rn1"),
        F.count(F.lit(1)).over(w1).alias("salt_cnt"),
    ).filter(F.col("rn1") <= KMV_K)
    w2 = Window.partitionBy("source").orderBy("h48", "shingle")
    p2 = p1.withColumn("rn", F.row_number().over(w2))
    agg = p2.groupBy("source").agg(
        F.sum(F.when(F.col("rn") <= KMV_K, 1).otherwise(0)).alias("k_used"),
        F.max(F.when(F.col("rn") <= KMV_K, F.col("h48"))).alias("hk"),
        F.sum(F.when(F.col("rn1") == 1, F.col("salt_cnt")).otherwise(0)).alias(
            "exact_distinct"
        ),
    )
    return (
        agg.withColumn(
            "kmv_est",
            F.expr(
                f"CASE WHEN k_used < {KMV_K} THEN exact_distinct "
                f"ELSE {(KMV_K - 1) * 2**48} div hk END"
            ),
        )
        .select(
            "source",
            "k_used",
            "exact_distinct",
            "kmv_est",
            F.expr("abs(kmv_est - exact_distinct) * 1000000 div exact_distinct").alias(
                "err_ppm"
            ),
        )
        .orderBy("source")
    )


def q_top_docs_by_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        q_doc_lengths(spark, sf_dir)
        .orderBy(F.desc("doc_len"), F.asc("doc_id"))
        .limit(20)
    )


# ------------------------------------------------------------- text analysis


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # over the _doc_tf artifact: (doc, term) rows are distinct, so n_types
    # is a plain count (no countDistinct expand) and token totals are Σtf —
    # no tokenize scan, one map-side-combinable aggregation
    tf = _doc_tf(spark, sf_dir)
    agg = tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(
            F.when(F.col("term").isin(STOPWORDS), F.col("tf")).otherwise(F.lit(0))
        ).alias("stop_tokens"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_types",
        _e6(F.col("n_types") / F.col("n_tokens")).alias("ttr_e6"),
        _e6(F.col("stop_tokens") / F.col("n_tokens")).alias("stop_ratio_e6"),
    ).orderBy("doc_id")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID (stopword-hit scoring). Stopword
    occurrences come from the _doc_tf artifact (Σtf over stopword terms ==
    the per-occurrence count) — no tokenize scan."""
    tf = _doc_tf(spark, sf_dir)
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("term").isin(STOPWORDS), F.col("tf")).otherwise(F.lit(0))
            ).alias("en_hits")
        )
        .select(
            "doc_id",
            "en_hits",
            F.when(F.col("en_hits") >= 1, "en").otherwise("unk").alias("predicted"),
        )
        .orderBy("doc_id")
    )


_DTOK_CACHE: dict[str, tuple[SparkSession, DataFrame]] = {}
_DOC_TF_CACHE: dict[str, tuple[SparkSession, DataFrame]] = {}


def _doc_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document term frequencies (doc_id, term, tf) — the shared input
    of the tf-spectrum family (doc_hps, term_entropy, term_doc_freqs) and,
    via its key set, the distinct-token consumers. MATERIALIZED once per
    corpus dir as an on-disk artifact (the shingles/scored-pairs
    discipline): each consumer otherwise re-runs the full tokenize +
    explode + aggregate corpus pass. At 100 TB this is the canonical
    token-count table a corpus snapshot ships alongside the index."""
    from pyspark import StorageLevel

    def compute() -> DataFrame:
        return _doc_tokens(spark, sf_dir).groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).alias("tf")
        )

    def build() -> DataFrame:
        art = _materialized_table(spark, sf_dir, "doc_tf", "v1", compute)
        return art.persist(StorageLevel.MEMORY_AND_DISK)

    return _session_cached(_DOC_TF_CACHE, spark, sf_dir, build)


_DLEN_CACHE: dict[str, tuple[SparkSession, DataFrame]] = {}


def _doc_lens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, len) for EVERY document — Σtf from the shared _doc_tf
    artifact left-joined back to the doc_id spine (token-less docs keep
    len 0). Σtf over (doc_id, term) rows equals doc_len_col by
    construction (same analyzer, tf partitions the token count), so
    doc-length consumers read one parquet int column + the cached artifact
    instead of re-running the corpus regex tokenize per query (r6: the
    pack/stratified/source-mix trio each paid 1-2 full tokenize scans).
    Session-cached like the sibling _distinct_tokens spine — pack_windows
    alone executes it twice per call (bucket totals + cumsum passes)."""
    from pyspark import StorageLevel

    def build() -> DataFrame:
        lens = _doc_tf(spark, sf_dir).groupBy("doc_id").agg(
            F.sum("tf").alias("len")
        )
        return (
            _docs(spark, sf_dir)
            .select("doc_id")
            .join(lens, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("len"), F.lit(0)).cast("long").alias("len"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    return _session_cached(_DLEN_CACHE, spark, sf_dir, build)


def _distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, term) pairs — the tf artifact's key set (the
    novelty query's consecutive-doc Jaccard references this table four
    times: two join sides + sizes)."""
    from pyspark import StorageLevel

    return _session_cached(
        _DTOK_CACHE, spark, sf_dir,
        lambda: _doc_tf(spark, sf_dir)
        .select("doc_id", "term")
        .persist(StorageLevel.MEMORY_AND_DISK),
    )


def q_token_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct-token set."""
    tok = _distinct_tokens(spark, sf_dir)
    return (
        tok.groupBy("doc_id")
        .agg(F.md5(F.concat_ws(" ", F.array_sort(F.collect_set("term")))).alias("fingerprint"))
        .orderBy("doc_id")
    )


DUP_SPAN_W = 8  # exact-span window width in tokens


def q_doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SPAN coverage per document (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for every
    W-token window of every doc, hash the window; a window is duplicated if
    the same W-token span occurs in at least one OTHER document. Reports
    per-doc window counts and the duplicated fraction — the span-level
    metric suffix-array dedupers threshold on, here as pure relational
    algebra instead of a suffix array.

    Scale shape: windows never leave the executors as text — each becomes a
    16-byte md5 key. Aggregation is two map-side-combinable groupBys
    ((doc_id, wkey) occurrence counts, then per-key doc counts — counts
    only, no doc lists, so a boilerplate span that appears in every doc
    costs one counter, not a hot list) plus one shuffle join on wkey whose
    sides are both pre-aggregated. No window function, no skew-prone
    collect."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", tokens_col("text").alias("toks")
    )
    win = toks.filter(F.size("toks") >= DUP_SPAN_W).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - DUP_SPAN_W + 1),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice("toks", i, F.lit(DUP_SPAN_W)))
                ),
            )
        ).alias("wkey"),
    )
    wd = win.groupBy("doc_id", "wkey").agg(F.count(F.lit(1)).alias("occ"))
    nd = wd.groupBy("wkey").agg(F.count(F.lit(1)).alias("nd"))
    per = wd.join(nd, "wkey").groupBy("doc_id").agg(
        F.sum("occ").alias("n_windows"),
        F.sum(F.when(F.col("nd") > 1, F.col("occ")).otherwise(0)).alias(
            "dup_windows"
        ),
    )
    return per.select(
        "doc_id",
        "n_windows",
        "dup_windows",
        _e6(F.col("dup_windows") / F.col("n_windows")).alias("dup_frac_e6"),
    ).orderBy("doc_id")


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition quality signals (Rae et al.
    2021 §A1.1): per doc, the token fraction covered by the single most
    frequent 2-gram (top2_cov) and the fraction of 3-gram positions whose
    3-gram repeats within the doc (dup3_frac) — the two filters that catch
    degenerate boilerplate/looping text.

    Scale shape: both signals are per-doc n-gram count aggregations — one
    explode per gram width, map-side-combinable groupBys keyed by
    (doc_id, gram), then a doc-level join of two doc-cardinality aggregates.
    Nothing global is materialized; no window functions."""
    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", tokens_col("text").alias("toks"))
        .select("doc_id", "toks", F.size("toks").alias("n_tokens"))
    )

    def grams(width: int, out: str) -> DataFrame:
        return toks.filter(F.col("n_tokens") >= width).select(
            "doc_id",
            "n_tokens",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_tokens") - width + 1),
                    lambda i: F.concat_ws(" ", F.slice("toks", i, F.lit(width))),
                )
            ).alias(out),
        )

    bg = (
        grams(2, "g")
        .groupBy("doc_id", "n_tokens", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "n_tokens")
        .agg(F.max("c").alias("max2"))
    )
    tg = (
        grams(3, "g")
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n3"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup3"),
        )
    )
    return (
        bg.join(tg, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            _e6(F.col("max2") * 2 / F.col("n_tokens")).alias("top2_cov_e6"),
            _e6(F.col("dup3") / F.col("n3")).alias("dup3_frac_e6"),
        )
        .orderBy("doc_id")
    )


_LM_DK_CACHE: dict[str, tuple[SparkSession, DataFrame]] = {}


def _lm_dk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w1, w2, k): per-doc bigram counts — the ONE corpus pass the
    whole bigram-LM family derives from (on-disk artifact + session
    persist: the corpus counts c12 = Σ_doc k and c1 = Σ_w2 c12 both fold
    out of this table, so an unpersisted plan would re-run the
    tokenize+explode scan once per model branch — 3 corpus scans, counted
    via `.explain`)."""
    from pyspark import StorageLevel

    def compute() -> DataFrame:
        toks = _docs(spark, sf_dir).select(
            "doc_id", tokens_col("text").alias("toks")
        )
        pos = toks.filter(F.size("toks") >= 2).select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at("toks", i).alias("w1"),
                        F.element_at("toks", i + 1).alias("w2"),
                    ),
                )
            ).alias("bg"),
        ).select(
            "doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
        )
        return pos.groupBy("doc_id", "w1", "w2").agg(
            F.count(F.lit(1)).alias("k")
        )

    def build() -> DataFrame:
        art = _materialized_table(spark, sf_dir, "lm_dk", "bigram", compute)
        return art.persist(StorageLevel.MEMORY_AND_DISK)

    return _session_cached(_LM_DK_CACHE, spark, sf_dir, build)


def q_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-proxy quality score: train a corpus bigram
    LM (MLE: P(w2|w1) = C(w1 w2) / C(w1 ·), both counted over bigram
    positions) and score each doc by the mean negative log-probability of
    its bigram positions. Low nll ≈ in-distribution text; high nll flags
    outliers — the standard LM-filter stage of a training-data pipeline
    with the n-gram model trained on the corpus itself.

    Scale shape: ONE corpus pass builds the per-doc bigram-count table
    (_lm_dk); the corpus counts fold out of it (c12 = Σ_doc k, c1 = Σ_w2
    c12), so the model is pure aggregation over the cached table. The model
    is the (w1, w2)->count table — vocab²-bounded, orders of magnitude
    smaller than the corpus — broadcast to executors; docs join it on their
    per-doc DISTINCT bigrams (counts carried as a weight), so the join's
    left side is per-doc-deduped and the probability table never
    shuffles."""
    dk = _lm_dk(spark, sf_dir)
    c12 = dk.groupBy("w1", "w2").agg(F.sum("k").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    model = F.broadcast(
        c12.join(c1, "w1").select(
            "w1", "w2", (F.log(F.col("c12") / F.col("c1"))).alias("logp")
        )
    )
    return (
        dk.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            _e6(-F.sum(F.col("k") * F.col("logp")) / F.sum("k")).alias("nll_e6"),
        )
        .orderBy("doc_id")
    )


CCNET_TILES = 3  # head / middle / tail
CCNET_BUCKET_W = 100_000  # 0.1-nat nll buckets for the distributed rank


def q_doc_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: rank every doc within its language
    by the bigram-LM nll (q_doc_lm_score) and split each language into
    head / middle / tail thirds — the partition CCNet uses to keep the
    lowest-perplexity slice of each language. Emits per (lang, bucket):
    doc count and the mean/max nll.

    Cross-engine determinism: the tile is computed EXPLICITLY as
    ((rank-1) * 3) div count over a (nll_e6, doc_id) total order, rather
    than relying on each engine's ntile() remainder distribution; mean is
    an integer division of e6 sums.

    Scale shape: the per-lang rank is a DISTRIBUTED RANK, not a
    one-task-per-language window (at 10^12 docs over a handful of
    languages a per-lang window is a straggler by construction — the same
    failure q_doc_pack_windows avoids for the token cumsum). Docs bucket
    by `nll_e6 div CCNET_BUCKET_W`; the (lang, bucket) count ledger comes
    to the driver (bounded by langs × nll-range/width, ~10^3 longs),
    per-lang prefix offsets broadcast back, and the rank is offset +
    within-(lang, bucket) row_number — bucket keys are monotone in nll,
    so the composed order equals the global (nll_e6, doc_id) order. A
    degenerate corpus whose nll mass collapses into one bucket re-creates
    the hot window; width is a build parameter sized against the observed
    nll spread."""
    nll = q_doc_lm_score(spark, sf_dir).select("doc_id", "nll_e6")
    langs = _docs(spark, sf_dir).select("doc_id", "lang")
    scored = nll.join(langs, "doc_id").withColumn(
        "b", F.expr(f"nll_e6 div {CCNET_BUCKET_W}")
    )
    ledger = scored.groupBy("lang", "b").agg(F.count(F.lit(1)).alias("c")).collect()
    offs: list[tuple[str, int, int]] = []
    totals: dict[str, int] = {}
    for r in sorted(ledger, key=lambda r: (r["lang"], r["b"])):
        offs.append((r["lang"], int(r["b"]), totals.get(r["lang"], 0)))
        totals[r["lang"]] = totals.get(r["lang"], 0) + int(r["c"])
    off_df = spark.createDataFrame(offs, "lang string, b long, boff long")
    tot_df = spark.createDataFrame(
        sorted(totals.items()), "lang string, cnt long"
    )
    wb = Window.partitionBy("lang", "b").orderBy("nll_e6", "doc_id")
    ranked = (
        scored.join(F.broadcast(off_df), ["lang", "b"])
        .join(F.broadcast(tot_df), "lang")
        .withColumn("rn", F.col("boff") + F.row_number().over(wb))
        .select(
            "lang",
            "nll_e6",
            F.expr(f"(rn - 1) * {CCNET_TILES} div cnt").alias("tile"),
        )
    )
    bucket = (
        F.when(F.col("tile") == 0, F.lit("head"))
        .when(F.col("tile") == 1, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ranked.groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("sum(nll_e6) div count(1)").alias("mean_nll_e6"),
            F.max("nll_e6").alias("max_nll_e6"),
        )
        .orderBy("lang", "bucket")
    )


DSIR_B = 256            # hashed feature buckets (model size bound)
DSIR_TARGET_LANG = "en"  # the 'target distribution' split

_DSIR_CACHE: dict[str, tuple[SparkSession, DataFrame]] = {}


def _dsir_doc_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, b, k): per-doc hashed-feature bucket counts — the ONE
    corpus pass every DSIR branch (raw model, target model, doc scoring)
    derives from. Session-persisted (the shared-subtree discipline): without
    it Catalyst re-runs tokenize+explode+hash once per branch — 10 corpus
    scans in the un-persisted plan. Size ≈ docs × min(doc feats, B), far
    smaller than the exploded feature stream."""
    from pyspark import StorageLevel

    def build() -> DataFrame:
        toks = _docs(spark, sf_dir).select(
            "doc_id", "lang", tokens_col("text").alias("toks")
        )
        # both feature families from ONE exploded array — a union of two
        # explodes would scan the corpus twice for the cache fill
        unigrams = F.transform(
            F.col("toks"), lambda w: F.concat(F.lit("u:"), w)
        )
        bigrams = F.when(
            F.size("toks") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat(
                    F.lit("b:"),
                    F.element_at("toks", i),
                    F.lit(" "),
                    F.element_at("toks", i + 1),
                ),
            ),
        ).otherwise(F.array())
        feats = toks.select(
            "doc_id", "lang", F.explode(F.concat(unigrams, bigrams)).alias("f")
        )
        m = F.md5("f")
        bucket = (
            F.ascii(F.substring(m, 1, 1)) * 256
            + F.ascii(F.substring(m, 2, 1)) * 16
            + F.ascii(F.substring(m, 3, 1))
        ) % DSIR_B
        fb = feats.select("doc_id", "lang", bucket.cast("long").alias("b"))
        dk = fb.groupBy("doc_id", "lang", "b").agg(F.count(F.lit(1)).alias("k"))
        return dk.persist(StorageLevel.MEMORY_AND_DISK)

    return _session_cached(_DSIR_CACHE, spark, sf_dir, build)


def q_doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hash each doc's unigram +
    bigram features into a BOUNDED bucket space, fit two smoothed
    bag-of-hashed-ngrams models — target p (docs in the target distribution,
    here lang='en') and raw q (the whole corpus) — and score every doc by
    log w(x) = Σ_b k_b · (log p_b − log q_b). High-weight docs look like the
    target; importance resampling keeps them with probability ∝ w.

    Scale shape: the feature space is B buckets BY CONSTRUCTION, so both
    models and the per-bucket log-ratio table are O(B) — broadcast to
    executors no matter how large the vocabulary grows; the doc side is two
    map-side-combinable groupBys keyed by (doc_id, bucket). The bucket hash
    is engine-portable arithmetic over md5 hex chars (the stratified-sample
    discipline), so the kept-set is reproducible on any cluster.

    Determinism: the per-bucket log-ratio is ONE log call over a ratio of
    exact integer products (add-1 smoothing keeps everything integral;
    products stay well under 2^53 at any per-bucket count ≤ ~10^8 — at true
    scale compute the difference of two logs instead), e6-rounded to BIGINT
    BEFORE the per-doc sum, which is then an exact integer sum."""
    dkl = _dsir_doc_buckets(spark, sf_dir)
    raw = dkl.groupBy("b").agg(F.sum("k").alias("cr"))
    tgt = (
        dkl.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.sum("k").alias("ct"))
    )
    counts = raw.join(tgt, "b", "left").fillna(0, ["ct"])
    # normalizers via a single-partition window: counts is ≤ B rows
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    model = (
        counts.withColumn("tr", F.sum("cr").over(wall))
        .withColumn("tt", F.sum("ct").over(wall))
        .select(
            "b",
            _e6(
                F.log(
                    ((F.col("ct") + 1) * (F.col("tr") + DSIR_B)).cast("double")
                    / ((F.col("cr") + 1) * (F.col("tt") + DSIR_B)).cast("double")
                )
            ).alias("llr_e6"),
        )
    )
    dk = dkl.groupBy("doc_id", "b").agg(F.sum("k").alias("k"))
    return (
        dk.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_feats"),
            F.sum(F.col("k") * F.col("llr_e6")).alias("dsir_logw_e6"),
        )
        .orderBy("doc_id")
    )


BLOCKLIST = ["dup", "flaky"]  # one in-vocab rare term, one absent term


def q_doc_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist filter (Raffel et al. 2020 §2.2: drop any page
    containing a word from a banned-word list): per doc, count tokens that
    hit the blocklist and emit the keep/drop decision (keep = zero hits).

    Scale shape: the blocklist is a DataFrame broadcast to executors — at
    production size (10^3-10^5 terms) a literal `isin` would bloat the plan,
    so the hits come from a broadcast LEFT join on the exploded token table
    followed by one map-side-combinable per-doc aggregation. One corpus
    scan, zero shuffles on the blocklist side."""
    bl = F.broadcast(
        spark.createDataFrame([(t,) for t in BLOCKLIST], ["bterm"])
    )
    # broadcast join probes the (doc, term, tf) artifact rows instead of the
    # exploded per-occurrence table: same hit counts via Σtf, ~doc_len/
    # distinct-terms fewer probe rows and no tokenize scan
    tf = _doc_tf(spark, sf_dir)
    return (
        tf.join(bl, tf.term == bl.bterm, "left")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(
                F.when(F.col("bterm").isNotNull(), F.col("tf")).otherwise(F.lit(0))
            ).alias("block_hits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "block_hits",
            F.when(F.col("block_hits") == 0, 1).otherwise(0).cast("long").alias("keep"),
        )
        .orderBy("doc_id")
    )


MIX_ALPHA = 0.3  # multinomial temperature (XLM-R / mBERT corpus mixing)


def q_doc_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction: per-source sampling weights by multinomial
    temperature sampling (Conneau et al. 2020 §3.1: q_s ∝ p_s^α with
    p_s = token share of source s, α = 0.3) — the up/down-weighting step
    that balances a multi-source corpus before sequence packing.

    Scale shape: one corpus scan → per-source token/doc totals (source
    cardinality is bounded, so the aggregate is tiny); corpus-wide sums come
    from a broadcast cross join of the 1-row total — no collect(), no
    global window over unbounded rows.

    Determinism: pow(n_tokens, α) is e6-rounded to a BIGINT per source
    BEFORE the corpus-wide sum, so the normalizer is an exact integer sum
    (double summation order would otherwise differ across engines)."""
    per = (
        # token totals via the shared _doc_tf artifact (Σtf == size(toks)):
        # the per-source rollup needs no tokenize scan at all
        _docs(spark, sf_dir)
        .select("doc_id", "source")
        .join(_doc_lens(spark, sf_dir), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("len").alias("n_tokens"),
        )
        .withColumn(
            "pa_e6",
            _e6(F.pow(F.col("n_tokens").cast("double"), F.lit(MIX_ALPHA))),
        )
    )
    # corpus-wide normalizers via a single-partition window over the
    # per-source aggregate (bounded source cardinality) — an agg+crossJoin
    # here would re-run the corpus scan for the totals branch
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per.withColumn("tot", F.sum("n_tokens").over(wall))
        .withColumn("tot_pa", F.sum("pa_e6").over(wall))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            _e6(F.col("n_tokens") / F.col("tot")).alias("p_e6"),
            _e6(F.col("pa_e6").cast("double") / F.col("tot_pa")).alias("w_e6"),
        )
        .orderBy("source")
    )


# -------------------------------------------------------------------- dedup


DECON_EVAL_MOD = 100     # eval split: doc_id % 100 == 0 (deterministic)
DECON_MAX_SHINGLE = 500  # drop boilerplate shingles before the join


def q_dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval DECONTAMINATION — the benchmark-leakage check every
    training-data pipeline runs before a model sees the corpus: find
    training documents that share 3-gram shingles with any held-out eval
    document. Eval = deterministic doc_id split; per eval doc: how many
    train docs collide, the worst collision size, and total shared-shingle
    mass.

    Scale shape: the ONLY join is eval-shingles ⋈ train-shingles on the
    shingle value, with boilerplate shingles (appearing in > 500 docs)
    dropped BEFORE the join — the same hot-key cap as the LSH bucket join,
    so no quadratic blowup on 'the quick brown fox'-type n-grams. The eval
    side is a tiny fraction of the corpus by construction."""
    sh = _shingles(spark, sf_dir)
    wsh = Window.partitionBy("shingle")
    capped = sh.withColumn("ndocs", F.count(F.lit(1)).over(wsh)).filter(
        F.col("ndocs") <= DECON_MAX_SHINGLE
    )
    ev = capped.filter(F.col("doc_id") % DECON_EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_doc"), "shingle"
    )
    tr = capped.filter(F.col("doc_id") % DECON_EVAL_MOD != 0).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    pair = ev.join(tr, "shingle").groupBy("eval_doc", "train_doc").agg(
        F.count(F.lit(1)).alias("shared")
    )
    return (
        pair.groupBy("eval_doc")
        .agg(
            F.count(F.lit(1)).alias("n_train_hits"),
            F.max("shared").alias("max_shared"),
            F.sum("shared").alias("total_shared"),
        )
        .orderBy("eval_doc")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .orderBy("text_hash")
    )


_MAT_VERSION = 1
_MAT_ROOT = "/tmp/afspark_entry_idx"


def _corpus_fp(sf_dir: str) -> str:
    """Cheap content fingerprint of the corpus dir: size+mtime of
    documents.parquet (the table every materialized artifact derives from).
    Not cryptographic — it exists so an in-place regeneration of sf_dir
    changes every artifact path tag."""
    p = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(p)
        return f"{st.st_size}:{int(st.st_mtime)}"
    except OSError:
        return "absent"


def _materialized_table(
    spark: SparkSession, sf_dir: str, name: str, params: str, build
) -> DataFrame:
    """On-disk per-corpus artifact for a shared subtree (the segments/IVF
    discipline): computed once, written as parquet + a manifest, and read
    back by every later session — dedup-family speedups survive across
    processes instead of living only in one session's persist cache.

    The manifest is the LAST write (same resume rule as the index builder):
    its absence marks a half-built artifact, which is rebuilt. `params`
    participates in the path tag so changing shingling/LSH parameters can
    never serve a stale artifact, and so does a cheap corpus fingerprint
    (documents.parquet size+mtime — ADVICE r5): regenerating the data at
    sf_dir in place now invalidates every derived artifact instead of
    silently serving the old corpus's rows."""
    import json as _json

    tag = hashlib.md5(
        f"{sf_dir}:{name}:{params}:v{_MAT_VERSION}:{_corpus_fp(sf_dir)}".encode()
    ).hexdigest()[:10]
    path = os.path.join(_MAT_ROOT, f"mat_{name}_{tag}")
    manifest = os.path.join(path, "manifest.json")
    data = os.path.join(path, "data")
    if not os.path.exists(manifest):
        df = build()
        df.write.mode("overwrite").parquet(data)
        n = spark.read.parquet(data).count()
        with open(manifest + ".tmp", "w") as f:
            _json.dump(
                {"name": name, "source": sf_dir, "params": params,
                 "rows": n, "version": _MAT_VERSION},
                f,
            )
        os.replace(manifest + ".tmp", manifest)
    return spark.read.parquet(data)


_SHINGLE_CACHE: dict[str, tuple[SparkSession, DataFrame]] = {}


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-token shingles per doc, built JVM-side (no Python).

    MATERIALIZED once per corpus dir: the shingle table feeds the signature,
    banding, verify, and decontamination stages, and without persistence
    Catalyst re-executes the tokenize scan once per reference — measured 8
    parquet scans in one LSH query and 64 in the canonicalize composition.
    At corpus scale this table is written once per snapshot (the segments /
    IVF-artifact discipline); here MEMORY_AND_DISK persistence is the
    in-process equivalent."""
    from pyspark import StorageLevel

    def compute() -> DataFrame:
        toks = _docs(spark, sf_dir).select(
            "doc_id", tokens_col("text").alias("toks")
        )
        return (
            toks.filter(F.size("toks") >= 3)
            .select(
                "doc_id",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - 2),
                        lambda i: F.concat_ws(" ", F.slice("toks", i, F.lit(3))),
                    )
                ).alias("shingle"),
            )
            .distinct()
        )

    def build() -> DataFrame:
        art = _materialized_table(spark, sf_dir, "shingles", "w3", compute)
        return art.persist(StorageLevel.MEMORY_AND_DISK)

    return _session_cached(_SHINGLE_CACHE, spark, sf_dir, build)


N_MINHASH = 8
N_BANDS = 4          # 8 minhashes → 4 bands × 2 rows (LSH banding)
MAX_BUCKET = 500     # drop degenerate buckets (boilerplate mega-clusters)


def _minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, m0..m7): 8 'permutations' via salted md5, lexicographic min —
    portable to any engine with md5 (the DuckDB oracle computes the same)."""
    sh = _shingles(spark, sf_dir)
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{j} "), F.col("shingle")))).alias(f"m{j}")
        for j in range(N_MINHASH)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH band → bucket → candidate-pair emission (the scale-correct
    dedup primitive): docs agreeing on ALL rows of ≥1 band become a pair.

    Scale shape: the only join is a self-join on (band, bucket) — bucket
    population is bounded by true near-dup cluster size, and buckets larger
    than MAX_BUCKET (boilerplate collisions) are dropped before the join, so
    no quadratic blowup is reachable. Contrast with the all-pairs shingle
    self-join this replaced (quadratic on any hot shingle)."""
    sig = _minhash_signature(spark, sf_dir)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", F.col(f"m{2 * b}"), F.col(f"m{2 * b + 1}"))).alias("bucket"),
        )
        for b in range(N_BANDS)
    ]
    buckets = sig.select("doc_id", F.explode(F.array(*bands)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    w = Window.partitionBy("band", "bucket")
    buckets = buckets.withColumn("bsz", F.count(F.lit(1)).over(w)).filter(
        F.col("bsz") <= MAX_BUCKET
    ).drop("bsz")
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _jaccard_on_pairs(spark: SparkSession, sf_dir: str, pairs: DataFrame) -> DataFrame:
    """Exact 3-shingle Jaccard, computed ONLY on candidate pairs: shingles
    join against the (small) pair list, never against themselves."""
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.coalesce(F.col("inter"), F.lit(0))
                * 1e6
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("inter"), F.lit(0)))
            )
            .cast("long")
            .alias("jaccard_e6"),
        )
    )


_SCORED_PAIRS_CACHE: dict[str, tuple[SparkSession, DataFrame]] = {}


def _scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared LSH-candidate → exact-Jaccard table, materialized once per
    corpus dir: three queries (top-k ranking, full pair list, canonicalize)
    consume the SAME scored pairs — the SQL oracles already share one
    `scored` CTE, and without persistence the Spark side re-ran the banding
    self-join + verify once per downstream branch (6x inside
    dedup_canonical's label propagation)."""
    from pyspark import StorageLevel

    def compute() -> DataFrame:
        pairs = _lsh_candidate_pairs(spark, sf_dir)
        return _jaccard_on_pairs(spark, sf_dir, pairs)

    def build() -> DataFrame:
        art = _materialized_table(
            spark, sf_dir, "scored_pairs",
            f"mh{N_MINHASH}b{N_BANDS}cap{MAX_BUCKET}", compute,
        )
        return art.persist(StorageLevel.MEMORY_AND_DISK)

    return _session_cached(_SCORED_PAIRS_CACHE, spark, sf_dir, build)


def q_dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs verified with exact Jaccard — the full
    banded dedup pipeline (signature → band → bucket → pair → verify)."""
    return _scored_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def q_dedup_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup: top-50 LSH-candidate pairs by exact 3-shingle
    Jaccard. The candidate set comes from MinHash-LSH banding (no all-pairs
    shingle self-join anywhere — that baseline is quadratic on any hot
    boilerplate shingle at corpus scale)."""
    return (
        _scored_pairs(spark, sf_dir)
        .orderBy(F.desc("jaccard_e6"), "doc_a", "doc_b")
        .limit(50)
    )


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup canonicalization — the step after pair detection in a real
    training-data pipeline: verified dup pairs (exact Jaccard ≥ τ over LSH
    candidates) become an undirected graph, and every member doc is mapped
    to its cluster's minimum doc_id by TWO fixed rounds of min-label
    propagation (deterministic in both engines whether or not a pathological
    chain has fully converged; dup groups are cliques here, where one round
    already fixes the label and the second certifies it). `is_dup = 1` rows
    are the ones a dedup job would drop; keep-set = canon rows. All joins
    are on doc_id over the (small) pair-member set — corpus-scale work ended
    at the LSH candidate stage."""
    pairs = (
        _scored_pairs(spark, sf_dir)
        .filter(F.col("jaccard_e6") >= DUP_JACCARD_TAU_E6)
        .select("doc_a", "doc_b")
    )
    und = pairs.select(
        F.col("doc_a").alias("d"), F.col("doc_b").alias("n")
    ).unionByName(pairs.select(F.col("doc_b").alias("d"), F.col("doc_a").alias("n")))
    unds = und.unionByName(
        und.select("d").distinct().select("d", F.col("d").alias("n"))
    )
    l1 = unds.groupBy("d").agg(F.min("n").alias("lbl"))
    l2 = (
        unds.join(l1.select(F.col("d").alias("n"), "lbl"), "n")
        .groupBy("d")
        .agg(F.min("lbl").alias("canon"))
    )
    return l2.select(
        F.col("d").alias("doc_id"),
        F.col("canon").alias("canon_id"),
        F.when(F.col("canon") < F.col("d"), F.lit(1)).otherwise(0).cast("long").alias("is_dup"),
    ).orderBy("doc_id")


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the reporting step a dedup job
    emits before dropping rows (how much of the corpus is duplicated, and in
    what cluster sizes). Composes the full canonicalization chain
    (shingle → LSH bands → exact-Jaccard verify → 2-round min-label) and
    folds it to one row per cluster size: `n_clusters` clusters of that
    size covering `n_docs` member docs. The `cluster_size = 1` row is the
    untouched singleton mass (total corpus minus pair-member docs) — every
    canonicalized doc sits in a ≥2-cluster because membership comes from a
    verified pair.

    Scale shape: all heavy lifting ended at the LSH candidate stage (the
    shared scored-pairs artifact); this adds two tiny aggregations over the
    pair-member set plus a corpus count(*) — metadata arithmetic."""
    canon = q_dedup_canonical(spark, sf_dir)
    hist = (
        canon.groupBy("canon_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
    )
    totals = (
        _docs(spark, sf_dir)
        .agg(F.count(F.lit(1)).alias("n_total"))
        .crossJoin(canon.agg(F.count(F.lit(1)).alias("n_members")))
    )
    singles = totals.select(
        F.lit(1).cast("long").alias("cluster_size"),
        (F.col("n_total") - F.col("n_members")).alias("n_clusters"),
        (F.col("n_total") - F.col("n_members")).alias("n_docs"),
    )
    return hist.unionByName(singles).orderBy("cluster_size")


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over 3-shingles: 8 'permutations' via salted md5,
    lexicographic min (portable to any engine with md5). Signature digest per
    doc; q_dedup_lsh_pairs bands these signatures into candidate pairs."""
    sig = _minhash_signature(spark, sf_dir)
    return sig.select(
        "doc_id",
        F.md5(F.concat_ws("|", *[F.col(f"m{j}") for j in range(N_MINHASH)])).alias("minhash_sig"),
    ).orderBy("doc_id")


N_SIMHASH_BITS = 64
SIMHASH_BANDS = 4            # 4 bands × 16 bits
SIMHASH_HAMMING_MAX = 3      # ≤3 bit flips leave ≥1 band intact (pigeonhole)


_SIMHASH_CACHE: dict[str, tuple[SparkSession, DataFrame]] = {}


def _simhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per doc as FOUR 16-bit band values (sim0..sim3): bit b
    = sign of Σ_tokens (±1 by parity of an md5 hex char; bits 0-31 from
    md5(term), 32-63 from md5('simhash2|'+term)). tf-weighted automatically
    (sum over occurrences). The 4×16 band representation keeps every value a
    small positive int — portable to any engine (no signed-overflow games
    with bit 63) — and IS the LSH banding unit for candidate pairs.

    Materialized per corpus dir: the pairs query references the signature
    table three times (band self-join sides + Hamming verify), which
    re-tokenized the corpus once per reference before persistence."""
    from pyspark import StorageLevel

    def build() -> DataFrame:
        # tf-weighted bit sums from the _doc_tf artifact: Σ_occurrences ±1
        # == Σ_distinct-terms tf·(±1) exactly (integer arithmetic), so the
        # two md5s are computed once per DISTINCT (doc, term) instead of
        # once per token occurrence, and no tokenize scan runs at all
        tok = (
            _doc_tf(spark, sf_dir)
            .withColumn("h1", F.md5("term"))
            .withColumn("h2", F.md5(F.concat(F.lit("simhash2|"), F.col("term"))))
        )

        def bit_src(b: int):
            col, off = ("h1", b) if b < 32 else ("h2", b - 32)
            return F.when(
                F.ascii(F.substring(col, off + 1, 1)) % 2 == 1, 1
            ).otherwise(-1)

        agg = tok.groupBy("doc_id").agg(
            *[
                F.sum(bit_src(b) * F.col("tf")).alias(f"s{b}")
                for b in range(N_SIMHASH_BITS)
            ]
        )
        bands = []
        for j in range(SIMHASH_BANDS):
            v = None
            for i in range(16):
                b = 16 * j + i
                bit = F.when(F.col(f"s{b}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
                v = bit if v is None else v + bit
            bands.append(v.cast("long").alias(f"sim{j}"))
        return agg.select("doc_id", *bands).persist(StorageLevel.MEMORY_AND_DISK)

    return _session_cached(_SIMHASH_CACHE, spark, sf_dir, build)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures (4×16-bit bands)."""
    return _simhash_bands(spark, sf_dir).orderBy("doc_id")


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming-ball candidates via 16-bit band
    buckets (docs agreeing on ≥1 of the 4 bands), verified with the exact
    64-bit Hamming distance, kept if ≤ 3. Recall is EXACT for hamming ≤ 3:
    3 bit flips can corrupt at most 3 of the 4 bands, so one band always
    matches. Scale shape mirrors MinHash-LSH: the only join is a self-join
    on (band, value) with oversized buckets dropped first."""
    sig = _simhash_bands(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("band"), F.col(f"sim{j}").alias("v"))
                    for j in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.v").alias("v"))
    w = Window.partitionBy("band", "v")
    bands = bands.withColumn("bsz", F.count(F.lit(1)).over(w)).filter(
        F.col("bsz") <= MAX_BUCKET
    ).drop("bsz")
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"sim{j}").alias(f"a{j}") for j in range(SIMHASH_BANDS)])
    sb = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"sim{j}").alias(f"b{j}") for j in range(SIMHASH_BANDS)])
    ham = None
    for j in range(SIMHASH_BANDS):
        h = F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"b{j}")))
        ham = h if ham is None else ham + h
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------- embeddings


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _dot(a, b) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _cosine_topk(spark, sf_dir, restrict_label: bool) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv"), F.col("label").alias("qlabel")
    )
    e = emb.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("ev"))
    j = e.crossJoin(F.broadcast(q))
    if restrict_label:
        j = j.filter(F.col("label") == F.col("qlabel"))
    cos = _dot(F.col("ev"), F.col("qv")) / (
        F.sqrt(_dot(F.col("ev"), F.col("ev"))) * F.sqrt(_dot(F.col("qv"), F.col("qv")))
    )
    return (
        j.select("vec_id", _e6(cos).alias("cos_e6"))
        .orderBy(F.desc("cos_e6"), "vec_id")
        .limit(10)
    )


EMB_NEAR_DUP_TAU = 0.30

# Gram-kernel row-block size (module-level so the block-boundary unit test
# can shrink it below real bucket sizes; production value bounds task
# memory at blk·|bucket| doubles)
_GRAM_BLK = 1024

# semdedup's two shared subtrees, cached per (session, corpus dir) — see
# _session_cached (ADVICE r5: per-invocation persists accumulated entries)
_SEMDEDUP_PAIRS_CACHE: dict[str, tuple[SparkSession, DataFrame]] = {}
_SEMDEDUP_SCORED_CACHE: dict[str, tuple[SparkSession, DataFrame]] = {}


def q_dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup candidate pairs: self-join WITHIN the
    trained IVF bucket (the persisted artifact of operators/ann.py — the
    same coarse quantizer ann_ivf_trained probes), exact cosine on
    candidates, keep pairs ≥ τ. The same candidate-then-verify shape as
    dedup_lsh_pairs: bucketing bounds the join to Σ|bucket|² instead of N²,
    and the cosine runs JVM-side (zip_with + aggregate, no Python).

    Scale shape: bucket population is CONTROLLED, not assumed — the number
    of centroids k is a build parameter (k ≈ N / target_bucket at 100 TB,
    FAISS's rule), so Σ|bucket|² is bounded by design, unlike a data-
    dependent key such as `label` whose cardinality the pipeline can't
    choose. The bucket join is also partition-aligned: the artifact stores
    vectors PARTITIONED BY bucket, so both join sides read bucket-pruned
    files."""
    return _emb_dup_pairs(spark, sf_dir).orderBy("vec_id_a", "vec_id_b")


def _gram_pairs(pdf, tau: int, blk: int):
    """One IVF bucket's (vec_id_a < vec_id_b, cos_e6) pairs with cos_e6 ≥ tau.
    Module-level so that the applyInPandas closure references this package
    and each Python worker that runs it imports it (plans/pyworker.py)."""
    import numpy as np
    import pandas as pd

    ids = pdf["vec_id"].to_numpy().astype(np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    X = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
    nrm = np.sqrt((X * X).sum(axis=1))
    n = ids.size
    out_a: list = []
    out_b: list = []
    out_c: list = []
    # Gram computed in row blocks: memory ∝ blk·n, not n²
    for i0 in range(0, n, blk):
        i1 = min(i0 + blk, n)
        cos = (X[i0:i1] @ X.T) / (nrm[i0:i1, None] * nrm[None, :])
        cos_e6 = np.floor(cos * 1e6 + 0.5).astype(np.int64)
        r_loc, c = np.nonzero(cos_e6 >= tau)
        keep = c > (r_loc + i0)  # ids ascending → index order == id order
        out_a.append(ids[r_loc[keep] + i0])
        out_b.append(ids[c[keep]])
        out_c.append(cos_e6[r_loc[keep], c[keep]])
    return pd.DataFrame(
        {
            "vec_id_a": np.concatenate(out_a) if out_a else np.zeros(0, np.int64),
            "vec_id_b": np.concatenate(out_b) if out_b else np.zeros(0, np.int64),
            "cos_e6": np.concatenate(out_c) if out_c else np.zeros(0, np.int64),
        }
    )


def _emb_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-IVF-bucket cosine pairs ≥ τ — the shared candidate subtree of
    q_dedup_embedding_pairs and q_dedup_semdedup.

    r6 rewrite (guide §4.2): one applyInPandas per bucket computes the
    bucket's Gram matrix with a BLAS matmul and emits only the surviving
    upper-triangle pairs — replacing the bucket self-join whose per-pair
    cosine ran as interpreted zip_with/aggregate expressions (HOFs are
    CodegenFallback) and whose join shuffled every vector once per side.
    Same Σ|bucket|² candidate bound (k stays a build parameter); per-task
    memory is bounded by a 1024-row Gram block, not |bucket|². cos_e6 uses
    floor(x·1e6 + 0.5): identical to ROUND half-up for every value the τ
    filter can keep (τ > 0)."""
    reader = _ivf_reader(spark, sf_dir)
    tau = int(EMB_NEAR_DUP_TAU * 1e6)
    # captured on the driver so it ships by VALUE in the task closure
    # (module globals resolve against the executor's fresh import)
    blk = _GRAM_BLK

    def bucket_pairs(pdf):
        return _gram_pairs(pdf, tau, blk)

    return (
        reader.vectors.select("bucket", "vec_id", "embedding")
        .groupBy("bucket")
        .applyInPandas(
            bucket_pairs, schema="vec_id_a long, vec_id_b long, cos_e6 long"
        )
    )


def q_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup over
    the trained IVF clustering, with the released implementation's GREEDY
    keep rule: order each cluster's members by cosine-to-centroid ASCENDING
    (farthest from the centroid first — the paper's low-redundancy
    representative), and DROP a member iff some member EARLIER in that
    order is within τ of it. The earliest member of every duplicate
    neighborhood is always kept; kept members are pairwise "not preceded"
    — exactly the facebookresearch/SemDeDup semantics, which is a single
    EXISTS over the pair set, NOT a connected-components iteration (cosine
    is not transitive, so min-label rounds would chain-merge unrelated
    docs and need data-dependent iteration counts). Emits every member of
    at least one near-dup pair with its cluster, centroid affinity, and
    keep/drop decision.

    Scale shape: pair detection is bounded by the IVF bucketing
    (Σ|bucket|², k a build parameter — see q_dedup_embedding_pairs); the
    keep rule is one self-join over the (small) pair set; the centroid
    join broadcasts k rows against the bucket-partitioned artifact scan.
    Centroid cosines are e6-rounded BEFORE comparison so the precedence
    order — hence the keep decision — is integer-deterministic across
    engines (ties broken by vec_id)."""
    from pyspark import StorageLevel

    reader = _ivf_reader(spark, sf_dir)
    # the pair subtree feeds BOTH the precedence join and the member set —
    # persisted so the per-bucket pair kernel runs once, not twice. Cached
    # per (session, sf_dir) via _session_cached (ADVICE r5): the previous
    # per-invocation persist accumulated a new MEMORY_AND_DISK entry on
    # every call in a long-lived session.
    pairs = _session_cached(
        _SEMDEDUP_PAIRS_CACHE, spark, sf_dir,
        lambda: _emb_dup_pairs(spark, sf_dir)
        .select("vec_id_a", "vec_id_b")
        .persist(StorageLevel.MEMORY_AND_DISK),
    )
    sym = pairs.select(
        F.col("vec_id_a").alias("x"), F.col("vec_id_b").alias("y")
    ).unionByName(
        pairs.select(F.col("vec_id_b").alias("x"), F.col("vec_id_a").alias("y"))
    )
    cents = spark.read.parquet(os.path.join(reader.dir, "centroids"))
    v = reader.vectors.select(
        "vec_id", "bucket", F.col("embedding").cast("array<double>").alias("v")
    )
    cos = _dot(F.col("v"), F.col("centroid")) / (
        F.sqrt(_dot(F.col("v"), F.col("v")))
        * F.sqrt(_dot(F.col("centroid"), F.col("centroid")))
    )
    # scored is referenced three times (both precedence sides + the final
    # member join) — persist the 3-column projection so the vectors
    # artifact is scanned once, not three times; session-cached like the
    # pair subtree above (no per-invocation cache accumulation)
    scored = _session_cached(
        _SEMDEDUP_SCORED_CACHE, spark, sf_dir,
        lambda: v.join(F.broadcast(cents), "bucket")
        .select(
            "vec_id", F.col("bucket").cast("long").alias("bucket"),
            _e6(cos).alias("cent_cos_e6"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK),
    )
    cx = scored.select(F.col("vec_id").alias("x"), F.col("cent_cos_e6").alias("ccx"))
    cy = scored.select(F.col("vec_id").alias("y"), F.col("cent_cos_e6").alias("ccy"))
    dropped = (
        sym.join(cx, "x").join(cy, "y")
        .filter(
            (F.col("ccy") < F.col("ccx"))
            | ((F.col("ccy") == F.col("ccx")) & (F.col("y") < F.col("x")))
        )
        .select(F.col("x").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    members = sym.select(F.col("x").alias("vec_id")).distinct()
    return (
        members.join(scored, "vec_id")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "bucket",
            "cent_cos_e6",
            F.when(F.col("is_dropped").isNull(), F.lit(1))
            .otherwise(F.lit(0)).cast("long").alias("kept"),
        )
        .orderBy("vec_id")
    )


def q_ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs vec_id=0 (all JVM: zip_with + aggregate)."""
    return _cosine_topk(spark, sf_dir, restrict_label=False)


def q_ann_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style bucket-pruned ANN: search only the query's cluster (label)."""
    return _cosine_topk(spark, sf_dir, restrict_label=True)


ANN_K_CENTROIDS = 8
ANN_NPROBE = 2
ANN_TRAIN_SAMPLE = 2048  # deterministic bounded trainer sample (vec_id < n)


_IVF_READERS: dict[str, tuple[SparkSession, object]] = {}


def _ivf_reader(spark: SparkSession, sf_dir: str):
    """Build-once/query-many: the IVF index (centroids + bucket-partitioned
    vectors) is a persisted artifact, like segments/docstore for BM25 —
    queries open the artifact instead of retraining k-means or re-collecting
    a sample per call. Cached per (session, sf_dir); the artifact is reused
    across sessions."""
    ent = _IVF_READERS.get(sf_dir)
    if ent is None or ent[0] is not spark:
        from audioflux_spark.operators.ann import IVFReader, build_ivf_index

        tag = hashlib.md5(
            f"{sf_dir}:ivf1:{ANN_K_CENTROIDS}:{ANN_TRAIN_SAMPLE}".encode()
        ).hexdigest()[:10]
        path = os.path.join("/tmp/afspark_entry_idx", f"ivf_{tag}")
        if not os.path.exists(os.path.join(path, "meta.json")):
            build_ivf_index(
                spark, _emb(spark, sf_dir), path,
                k=ANN_K_CENTROIDS, train_sample=ANN_TRAIN_SAMPLE,
            )
        _IVF_READERS[sf_dir] = (spark, IVFReader(spark, path))
    return _IVF_READERS[sf_dir][1]


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-centroid IVF ANN over the PERSISTED index artifact: the query
    probes its nprobe nearest buckets (partition pruning on the artifact
    scan), exact cosine only inside them (~nprobe/k of the corpus read)."""
    reader = _ivf_reader(spark, sf_dir)
    qv = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()["embedding"]
    )
    cand = reader.search_cosine(qv, k=None, nprobe=ANN_NPROBE)
    return (
        cand.select("vec_id", _e6(F.col("cos")).alias("cos_e6"))
        .orderBy(F.desc("cos_e6"), "vec_id")
        .limit(10)
    )


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ev")
    )
    return e.select("vec_id", _e6(F.sqrt(_dot(F.col("ev"), F.col("ev")))).alias("norm_e6")).orderBy("vec_id")


# -------------------------------------------------------------------- events


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", F.col("ts").cast("timestamp")), "yyyy-MM-dd HH").alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n"), _e6(F.sum("value")).alias("sum_value_e6"))
        .orderBy("event_type", "hour")
    )


def q_events_user_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "user_id")
        .limit(20)
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap): lag window + cumulative flag —
    the engine's stateful-sequence analog of the reference's onset 'wait'
    (min-distance) rule."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id",
        "event_id",
        _epoch_ntz("ts").alias("t"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("t").over(w).isNull() | ((F.col("t") - F.lag("t").over(w)) > 1800), 1
        ).otherwise(0),
    )
    return (
        flagged.groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


def q_events_value_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type standardization — the reference's scale ops
    (/root/reference/python/audioflux/utils/scale.py:17-254: stand scale)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    w = Window.partitionBy("event_type")
    return (
        ev.select(
            "event_id",
            "event_type",
            ((F.col("value") - F.mean("value").over(w)) / F.stddev_pop("value").over(w)).alias("z"),
        )
        .select("event_id", "event_type", _e6(F.col("z")).alias("z_e6"))
        .orderBy("event_id")
    )


def q_events_sliding_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-statistic sliding window (5-wide trailing max per user) — the
    reference's __vmaxfilter (/root/reference/src/vector/flux_vector.h:104)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "event_id", "value",
        _epoch_ntz("ts").alias("t"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id").rowsBetween(-4, 0)
    return (
        ev.select("event_id", _e6(F.max("value").over(w)).alias("max5_e6"))
        .orderBy("event_id")
    )


def q_events_delta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Σ|Δvalue| + max Δ — spectral flux
    (/root/reference/src/feature/spectral_algorithm.c:250: Σ|s(t)-s(t-1)|)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "event_id", "value",
        _epoch_ntz("ts").alias("t"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    d = ev.withColumn("delta", F.col("value") - F.lag("value").over(w)).filter(
        F.col("delta").isNotNull()
    )
    return (
        d.groupBy("user_id")
        .agg(
            _e6(F.sum(F.abs("delta"))).alias("flux_e6"),
            _e6(F.max("delta")).alias("max_delta_e6"),
            F.count(F.lit(1)).alias("n_deltas"),
        )
        .orderBy("user_id")
    )


def q_source_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty between consecutive docs of a source (1 - token-set Jaccard) —
    the reference's novelty curve (/root/reference/src/mir/onset_algorithm.c:
    259) over a document sequence."""
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    seq = docs.select(
        "source", "doc_id", F.lag("doc_id").over(w).alias("prev_id")
    ).filter(F.col("prev_id").isNotNull())
    tok = _distinct_tokens(spark, sf_dir)
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ta = tok.select(F.col("doc_id").alias("doc_id"), F.col("term"))
    tb = tok.select(F.col("doc_id").alias("prev_id"), F.col("term"))
    inter = (
        seq.join(ta, "doc_id")
        .join(tb, ["prev_id", "term"])
        .groupBy("source", "doc_id", "prev_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("prev_id"), F.col("n").alias("nb"))
    return (
        seq.join(inter, ["source", "doc_id", "prev_id"], "left")
        .join(sa, "doc_id")
        .join(sb, "prev_id")
        .select(
            "source",
            "doc_id",
            _e6(
                F.lit(1.0)
                - F.coalesce(F.col("inter"), F.lit(0))
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("inter"), F.lit(0)))
            ).alias("novelty_e6"),
        )
        .orderBy("doc_id")
    )


def q_events_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between two event-type hourly series at lags 0..5 —
    the reference's Xcorr (/root/reference/src/dsp/xcorr_algorithm.c):
    similarity join between two time series."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    hourly = (
        ev.groupBy(
            "event_type",
            F.floor(_epoch_ntz("ts") / 3600).alias("h"),
        )
        .agg(F.sum("value").alias("v"))
    )
    a = hourly.filter(F.col("event_type") == "click").select(
        F.col("h").alias("ha"), F.col("v").alias("va")
    )
    b = hourly.filter(F.col("event_type") == "view").select(
        F.col("h").alias("hb"), F.col("v").alias("vb")
    )
    lags = spark.range(0, 6).select(F.col("id").cast("int").alias("lag"))
    joined = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("ha") + F.col("lag") == F.col("hb"))
        .groupBy("lag")
        .agg(_e6(F.sum(F.col("va") * F.col("vb"))).alias("xcorr_e6"),
             F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("lag")
    )
    return joined


def q_events_delta_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Savitzky-Golay-style delta feature: windowed weighted regression slope
    over each user's value sequence (xxcc_standard delta,
    /root/reference/src/feature/xxcc_algorithm.c:168-296): slope_t =
    Σ_{j=-2..2} j·v_{t+j} / Σ j² over a 5-frame window."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "event_id", "value",
        _epoch_ntz("ts").alias("t"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    num = sum(
        F.lit(float(j)) * F.coalesce(F.lag("value", -j).over(w), F.lit(0.0))
        for j in range(-2, 3)
    )
    cnt = sum(
        F.when(F.lag("value", -j).over(w).isNotNull(), F.lit(j * j)).otherwise(F.lit(0))
        for j in range(-2, 3)
    )
    return (
        ev.select("event_id", (num / F.when(cnt > 0, cnt)).alias("slope"))
        .select("event_id", _e6(F.col("slope")).alias("slope_e6"))
        .orderBy("event_id")
    )


def q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's irregular event series onto a uniform 30-min grid
    with sample-and-hold (previous value carries) — the reference's Resample
    (/root/reference/src/dsp/resample_algorithm.c) as the classic AS-OF JOIN:
    each grid point takes the last event at-or-before it.

    Plan shape (scales, no per-row Python): union the grid points (null
    value) with the events, one window pass of last(value, ignorenulls) in
    (t, src, event_id) order — an as-of join without a join, linear in
    events + grid points and partitioned by user."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "event_id", "value", _epoch_ntz("ts").alias("t")
    )
    STEP = 1800
    rng = ev.groupBy("user_id").agg(F.min("t").alias("mn"), F.max("t").alias("mx"))
    grid = (
        rng.select(
            "user_id",
            ((F.col("mn") + STEP - 1) / STEP).cast("long").alias("g0"),
            (F.col("mx") / STEP).cast("long").alias("g1"),
        )
        .filter(F.col("g0") <= F.col("g1"))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("g0") * STEP, F.col("g1") * STEP, F.lit(STEP))).alias("t"),
        )
        .select(
            "user_id", "t",
            F.lit(None).cast("double").alias("value"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(1).alias("src"),
        )
    )
    pts = ev.select(
        "user_id", "t", "value", F.col("event_id").cast("long"), F.lit(0).alias("src")
    ).unionByName(grid)
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "src", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        pts.withColumn("held", F.last("value", ignorenulls=True).over(w))
        .filter(F.col("src") == 1)
        .select("user_id", F.col("t").alias("grid_t"), _e6(F.col("held")).alias("value_e6"))
        .orderBy("user_id", "grid_t")
    )


FIR_TAPS = (1.0, 2.0, 3.0, 2.0, 1.0)  # normalized by sum below


def q_events_fir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit FIR convolution over each user's event series: y_t =
    Σ_j h_j·x_{t−j} with the 5-tap smoothing kernel (1,2,3,2,1)/9 — the
    reference's conv/FIR utilities (/root/reference/src/dsp/fir_algorithm.c)
    as a weighted lag window; emitted only where the full support exists
    (same-length 'valid' mode)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "event_id", "value", _epoch_ntz("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    norm = sum(FIR_TAPS)
    y = sum(
        F.lit(h / norm) * F.lag("value", j).over(w)
        for j, h in enumerate(FIR_TAPS)
    )
    return (
        ev.select("event_id", y.alias("y"))
        .filter(F.col("y").isNotNull())
        .select("event_id", _e6(F.col("y")).alias("fir_e6"))
        .orderBy("event_id")
    )


def q_viterbi_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Viterbi decoding of event values under a fixed 2-state
    Gaussian HMM (/root/reference/src/classic/viterbi.c analog). Iterative DP
    — oracled against the in-repo kernel run single-node over pandas (the
    driver hash check then verifies the DISTRIBUTED execution; the kernel
    math itself is pytest-verified against planted parameters)."""
    from audioflux_spark.operators.sequence import viterbi_decode

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "event_id", F.col("value").cast("double").alias("value")
    )
    return (
        viterbi_decode(ev, "user_id", ["event_id"], "value")
        .orderBy("user_id", "event_id")
    )


def q_nmf_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source NMF topic assignment over the (doc, term, tf) matrix
    (/root/reference/src/classic/nmf.c analog). Sparse multiplicative updates
    (COO + bincount — no dense V); deterministic accumulation order, so the
    single-node oracle referee hash-matches exactly."""
    from pyspark import StorageLevel

    from audioflux_spark.operators.sequence import nmf_topics

    # persisted: the operator references this matrix twice (nnz sizing +
    # the bounded join), which re-ran the tokenize scan per reference;
    # Spark's CacheManager dedupes the identical plan across repeat calls.
    # The tf side now reads the shared _doc_tf artifact (r6 rotation plan).
    tf = (
        _doc_tf(spark, sf_dir)
        .select("doc_id", "term", F.col("tf").cast("double").alias("tf"))
        .join(_docs(spark, sf_dir).select("doc_id", "source"), "doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return (
        nmf_topics(tf, "source", "doc_id", "term", "tf", k=3)
        .select("group", "row_id", "topic", _e6(F.col("weight")).alias("weight_e6"))
        .orderBy("group", "row_id")
    )


def q_hmm_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Baum-Welch EM training of a 2-state Gaussian HMM over event
    values (/root/reference/src/classic/hmm.c:32-120 analog): scaled
    forward/backward + EM, vectorized over states, parallel over users.
    States reported in ascending-mean order (label-switch stable)."""
    from audioflux_spark.operators.sequence import hmm_fit

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "event_id", F.col("value").cast("double").alias("value")
    )
    fitted = hmm_fit(ev, "user_id", ["event_id"], "value")
    return fitted.select(
        "group",
        "state",
        _e6(F.col("init_p")).alias("init_p_e6"),
        _e6(F.col("mean")).alias("mean_e6"),
        _e6(F.col("std")).alias("std_e6"),
        _e6(F.col("stay_p")).alias("stay_p_e6"),
        "n_iter",
        "n_obs",
    ).orderBy("group", "state")


def q_lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — relational breadth check."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("2026-06-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _e6(F.sum("l_quantity")).alias("sum_qty_e6"),
            _e6(F.sum("l_extendedprice")).alias("sum_base_e6"),
            _e6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_e6"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ------------------------------------------- per-doc stats (Spectral analog)


def q_term_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each doc's term distribution — spectral entropy
    (/root/reference/src/feature/spectral_algorithm.c:399) over terms.
    Reads the shared _doc_tf artifact instead of re-tokenizing."""
    tf = _doc_tf(spark, sf_dir).select(
        "doc_id", "term", F.col("tf").cast("double").alias("tf")
    )
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("tf").alias("L"), F.sum(F.col("tf") * F.log("tf")).alias("tlogt")
    )
    return per_doc.select(
        "doc_id",
        _e6(F.log("L") - F.col("tlogt") / F.col("L")).alias("entropy_e6"),
    ).orderBy("doc_id")


def q_doc_tf_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc weighted moments over the term axis — the reference's spectral
    centroid/spread/skewness/kurtosis (/root/reference/src/feature/
    spectral_algorithm.c:311-397: Σw·x^p raw moments → central moments), with
    frequency → token length and amplitude weight → term frequency. One
    groupBy: raw moments Σw, Σwx..Σwx⁴ accumulated map-side, centered on the
    driver-free combine exactly as the reference's single pass. Reads the
    shared _doc_tf artifact instead of re-tokenizing (r6 rotation plan)."""
    tf = _doc_tf(spark, sf_dir).select(
        "doc_id", "term", F.col("tf").cast("double").alias("w")
    )
    x = F.length("term").cast("double")
    raw = tf.groupBy("doc_id").agg(
        F.sum("w").alias("s0"),
        F.sum(F.col("w") * x).alias("s1"),
        F.sum(F.col("w") * x * x).alias("s2"),
        F.sum(F.col("w") * x * x * x).alias("s3"),
        F.sum(F.col("w") * x * x * x * x).alias("s4"),
    )
    c = F.col("s1") / F.col("s0")
    var = F.col("s2") / F.col("s0") - c * c
    spread = F.sqrt(var)
    m3 = F.col("s3") / F.col("s0") - 3 * c * F.col("s2") / F.col("s0") + 2 * c * c * c
    m4 = (
        F.col("s4") / F.col("s0")
        - 4 * c * F.col("s3") / F.col("s0")
        + 6 * c * c * F.col("s2") / F.col("s0")
        - 3 * c * c * c * c
    )
    return raw.select(
        "doc_id",
        _e6(c).alias("centroid_e6"),
        _e6(spread).alias("spread_e6"),
        _e6(F.when(var > 1e-12, m3 / (spread * var)).otherwise(F.lit(0.0))).alias("skew_e6"),
        _e6(F.when(var > 1e-12, m4 / (var * var)).otherwise(F.lit(0.0))).alias("kurt_e6"),
    ).orderBy("doc_id")


def q_events_sliding_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-statistic sliding MEDIAN (5-wide trailing, per user) — the HPSS
    median filter (/root/reference/src/mir/hpss_algorithm.c:233-234
    __mmedianfilter) over an event stream; exact percentile, not approx."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "event_id", "value", _epoch_ntz("ts").alias("t")
    )
    med = F.expr(
        "percentile(value, 0.5) OVER (PARTITION BY user_id ORDER BY t, event_id "
        "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)"
    )
    return ev.select("event_id", _e6(med).alias("med5_e6")).orderBy("event_id")


def q_analyzer_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats under each member of the analyzer FAMILY — the
    reference's WindowType enum (14 tapers chosen at construction,
    /root/reference/src/dsp/flux_window.c:618-860): same corpus, different
    'window function', one row per analyzer."""
    from audioflux_spark.config import ANALYZERS

    # ONE corpus scan: every analyzer's token array is computed in the same
    # projection and exploded with an analyzer dimension — the unioned
    # N-scan version read the corpus once per analyzer (N-1 redundant full
    # scans at 100 TB)
    docs = _docs(spark, sf_dir)
    structs = [
        F.struct(
            F.lit(name).alias("analyzer"),
            tokens_col("text", ANALYZERS[name]).alias("toks"),
        )
        for name in sorted(ANALYZERS)
    ]
    tok = docs.select(F.explode(F.array(*structs)).alias("a")).select(
        F.col("a.analyzer").alias("analyzer"), F.explode("a.toks").alias("term")
    )
    return (
        tok.groupBy("analyzer")
        .agg(
            F.count("term").alias("total_tokens"),
            F.countDistinct("term").alias("distinct_terms"),
        )
        .orderBy("analyzer")
    )


def q_ngram_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution n-gram analysis (n = 1..3) — the reference's
    constant-Q / wavelet transform family analog (CQT/CWT: the SAME signal
    analyzed at several resolutions, /root/reference/src/cqt_algorithm.c):
    per resolution, total and distinct shingle counts."""
    # ONE corpus scan (tokenized once): each resolution's grams come from the
    # same token array, exploded with an n dimension — vs one full
    # tokenize pass per resolution in the unioned version
    toks = _docs(spark, sf_dir).select(tokens_col("text").alias("toks"))

    def grams(n: int) -> F.Column:
        return F.when(
            F.size("toks") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice("toks", i, F.lit(n))),
            ),
        ).otherwise(F.array().cast("array<string>"))

    structs = [
        F.struct(F.lit(n).alias("n"), grams(n).alias("g")) for n in (1, 2, 3)
    ]
    g = toks.select(F.explode(F.array(*structs)).alias("s")).select(
        F.col("s.n").alias("n"), F.explode("s.g").alias("gram")
    )
    return (
        g.groupBy("n")
        .agg(
            F.count("gram").alias("total"),
            F.countDistinct("gram").alias("distinct_grams"),
        )
        .orderBy("n")
    )


def q_events_rollup_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (day → hour → 10-min) — the reference's
    multi-level wavelet decomposition shape (DWT/SWT: one series, a pyramid
    of scales): per (event_type, level) the number of buckets and the max
    bucket count."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", _epoch_ntz("ts").alias("t")
    )
    # ONE scan: aggregate once at the finest grain (10-min buckets), then
    # derive each coarser level by re-grouping the tiny bucket table (hour =
    # 6 min10 buckets, day = 144) — the rollup cascade a cube/rollup engine
    # runs, instead of one full corpus scan per level
    base = ev.groupBy(
        "event_type", F.floor(F.col("t") / 600).alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))
    levels = base.select(
        "event_type",
        "n",
        F.explode(
            F.array(
                # floor (not `div`, which truncates toward zero): keeps
                # pre-epoch (negative) timestamps on the same bucket grid as
                # per-level floor(t/86400) and the DuckDB twin's // operator
                F.struct(
                    F.lit("day").alias("level"),
                    F.floor(F.col("b") / 144).alias("cb"),
                ),
                F.struct(
                    F.lit("hour").alias("level"),
                    F.floor(F.col("b") / 6).alias("cb"),
                ),
                F.struct(F.lit("min10").alias("level"), F.col("b").alias("cb")),
            )
        ).alias("z"),
    ).select("event_type", F.col("z.level").alias("level"), F.col("z.cb").alias("cb"), "n")
    buckets = levels.groupBy("event_type", "level", "cb").agg(F.sum("n").alias("n"))
    return (
        buckets.groupBy("event_type", "level")
        .agg(F.count(F.lit(1)).alias("n_buckets"), F.max("n").alias("max_bucket"))
        .select("event_type", "level", "n_buckets", "max_bucket")
        .orderBy("event_type", "level")
    )


def q_doc_tf_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc distribution-shape reductions over the tf axis — the
    reference's flatness (geo/arith mean ratio, spectral_algorithm.c:427),
    crest (max/mean, :475), decrease (:520: Σ_{k≥2}(w_k−w_1)/(k−1) / Σ_{k≥2}w_k,
    k = term rank) and hfc (:741: Σ k·w_k) with frequency rank → alphabetical
    term rank within the doc. Reads the shared _doc_tf artifact instead of
    re-tokenizing (r6 rotation plan)."""
    tf = _doc_tf(spark, sf_dir).select(
        "doc_id", "term", F.col("tf").cast("double").alias("w")
    )
    wk = Window.partitionBy("doc_id").orderBy("term")
    ranked = tf.withColumn("k", F.row_number().over(wk)).withColumn(
        "w1", F.first("w").over(wk)
    )
    agg = ranked.groupBy("doc_id").agg(
        F.exp(F.avg(F.log("w"))).alias("geo"),
        F.avg("w").alias("arith"),
        F.max("w").alias("mx"),
        F.sum(F.col("k") * F.col("w")).alias("hfc"),
        F.sum(
            F.when(F.col("k") >= 2, (F.col("w") - F.col("w1")) / (F.col("k") - 1))
        ).alias("dec_num"),
        F.sum(F.when(F.col("k") >= 2, F.col("w"))).alias("dec_den"),
    )
    return agg.select(
        "doc_id",
        _e6(F.col("geo") / F.col("arith")).alias("flatness_e6"),
        _e6(F.col("mx") / F.col("arith")).alias("crest_e6"),
        _e6(F.col("hfc")).alias("hfc_e6"),
        _e6(
            F.coalesce(F.col("dec_num") / F.col("dec_den"), F.lit(0.0))
        ).alias("decrease_e6"),
    ).orderBy("doc_id")


def q_events_dct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT-II of each event type's hourly activity series, first 4
    coefficients — the reference's frequency-transform family
    (/root/reference/src/dsp/flux_dct.c; dct_algorithm): c_k =
    Σ_n x_n · cos(π/N · (n+½) · k). The series index comes from a window
    rank over hour buckets (dense, deterministic); the transform is a
    grouped weighted sum — a filterbank matmul with cosine weights."""
    import math

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    # i and N from the SAME window partition — no hourly self-join, one scan
    w = Window.partitionBy("event_type").orderBy("h")
    j = hourly.select(
        "event_type", "x",
        (F.row_number().over(w) - 1).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("N"),
    )
    pi = F.lit(math.pi)
    aggs = [
        _e6(
            F.sum(
                F.col("x")
                * F.cos(pi / F.col("N") * (F.col("i") + F.lit(0.5)) * F.lit(float(k)))
            )
        ).alias(f"c{k}_e6")
        for k in range(4)
    ]
    return j.groupBy("event_type").agg(*aggs).orderBy("event_type")


def q_doc_tristimulus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tristimulus split of each doc's term spectrum — the reference's trist
    helpers (/root/reference/src/classic/trist.c, src/mir/_trist3.c:
    tristimulus = energy share of the 1st harmonic, harmonics 2-4, and the
    rest). Harmonic rank → tf rank (tf desc, term asc): t1 = s₁/Σs,
    t2 = (s₂+s₃+s₄)/Σs, t3 = remainder/Σs. One tf aggregation + one rank
    window + one conditional agg — no joins, scales linearly. Reads the
    shared _doc_tf artifact instead of re-tokenizing (r6 rotation plan)."""
    tf = _doc_tf(spark, sf_dir).select(
        "doc_id", "term", F.col("tf").cast("double").alias("s")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("s"), "term")
    ranked = tf.withColumn("r", F.row_number().over(w))
    agg = ranked.groupBy("doc_id").agg(
        F.sum("s").alias("tot"),
        F.sum(F.when(F.col("r") == 1, F.col("s")).otherwise(0.0)).alias("s1"),
        F.sum(
            F.when((F.col("r") >= 2) & (F.col("r") <= 4), F.col("s")).otherwise(0.0)
        ).alias("s24"),
    )
    return agg.select(
        "doc_id",
        _e6(F.col("s1") / F.col("tot")).alias("t1_e6"),
        _e6(F.col("s24") / F.col("tot")).alias("t2_e6"),
        _e6((F.col("tot") - F.col("s1") - F.col("s24")) / F.col("tot")).alias("t3_e6"),
    ).orderBy("doc_id")


def q_events_reassign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time reassignment of the hourly activity spectrogram — the reference's
    Reassign (/root/reference/src/reassign_algorithm.c:85-188: move each
    bin's energy to the local phase-derived centroid instead of the bin
    center). Here each hour-bucket's event count moves to the bucket of its
    events' mean timestamp; buckets whose mass actually moves are counted as
    'sharpened'. Integer timestamp sums are exact in doubles (< 2⁵³), so the
    centroid is bit-identical across engines. Two groupBys, no joins."""
    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", _epoch_ntz("ts").alias("t")
    )
    buckets = e.groupBy("event_type", F.floor(F.col("t") / 3600).alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(F.sum("t") / F.count(F.lit(1)) / 3600).alias("r"),
    )
    return (
        buckets.groupBy("event_type", "r")
        .agg(
            F.sum("n").alias("mass"),
            F.sum(F.when(F.col("r") != F.col("h"), F.lit(1)).otherwise(0)).alias(
                "moved_bins"
            ),
        )
        .orderBy("event_type", "r")
    )


_SCALOGRAM_SCALES = (1, 2, 4)  # triangular-kernel half-widths, in hour bins


def q_events_scalogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-scale scalogram energy — the reference's CWT/scalogram family
    (/root/reference/src/cwt_algorithm.c: convolve the signal with dilated
    wavelets, one output row per scale). Per event type, the hourly count
    series is convolved with triangular (Bartlett) kernels of half-width
    s ∈ {1,2,4} ('valid' support only) and each scale's response energy
    Σy² is emitted — the scale-energy marginal of the scalogram. Lag/lead
    windows over one hourly aggregation; linear in events."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    # ONE scan, one window pass: every scale's response is a column of the
    # same row, then explode(array(struct)) stacks (scale, y) — no unions,
    # no repeated corpus reads (the round-2 N-pass-family lesson).
    ycols = []
    for s in _SCALOGRAM_SCALES:
        y = None
        for j in range(-s, s + 1):
            wt = 1.0 - abs(j) / (s + 1.0)  # Bartlett kernel, peak 1 at j=0
            col = F.lag("x", j).over(w) if j >= 0 else F.lead("x", -j).over(w)
            term = F.lit(wt) * col
            y = term if y is None else y + term
        ycols.append(y.alias(f"y{s}"))
    resp = hourly.select("event_type", *ycols)  # window exprs need a plain select
    ys = [
        F.struct(F.lit(s).cast("long").alias("scale"), F.col(f"y{s}").alias("y"))
        for s in _SCALOGRAM_SCALES
    ]
    stacked = (
        resp.select("event_type", F.explode(F.array(*ys)).alias("z"))
        .select("event_type", F.col("z.scale").alias("scale"), F.col("z.y").alias("y"))
        .filter(F.col("y").isNotNull())
    )
    return (
        stacked.groupBy("event_type", "scale")
        .agg(
            _e6(F.sum(F.col("y") * F.col("y"))).alias("energy_e6"),
            F.count(F.lit(1)).alias("n_frames"),
        )
        .orderBy("event_type", "scale")
    )


def q_events_goertzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT of each event type's hourly activity series at probe bins k=1..3 —
    the reference's DFT/Goertzel single-bin transforms
    (/root/reference/src/dsp/flux_dft.c; Goertzel evaluates one DFT bin
    without the full transform): re_k = Σ x_i·cos(2πki/N),
    im_k = Σ x_i·sin(2πki/N). Same grouped-weighted-sum plan shape as the
    DCT query — one scan, one aggregation, no shuffle beyond the groupBy."""
    import math

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    # i and N from the SAME window partition — no hourly self-join, one scan
    w = Window.partitionBy("event_type").orderBy("h")
    j = hourly.select(
        "event_type", "x",
        (F.row_number().over(w) - 1).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("N"),
    )
    two_pi = F.lit(2.0 * math.pi)
    aggs = []
    for k in (1, 2, 3):
        ang = two_pi * F.lit(float(k)) * F.col("i") / F.col("N")
        aggs.append(_e6(F.sum(F.col("x") * F.cos(ang))).alias(f"re{k}_e6"))
        aggs.append(_e6(F.sum(F.col("x") * F.sin(ang))).alias(f"im{k}_e6"))
    return j.groupBy("event_type").agg(*aggs).orderBy("event_type")


def q_events_stransform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-transform — frequency-DEPENDENT window width
    (/root/reference/src/st_algorithm.c; also the NSGT's defining property,
    nsgt_algorithm.c: low frequencies get wide windows, high get narrow).
    ST(c,k) = Σ_i x_i · exp(−(i−c)²k²/(2N²)) · e^{−j2πk(i−c)/N}: the
    Gaussian's σ = N/k shrinks as the probe bin k rises. Evaluated at
    centers c = floor(qN/4), q ∈ {1,2,3} × bins k ∈ {1,2,3} by exploding a
    9-combo dimension over ONE hourly aggregation — a time-frequency matrix
    from a single scan, no per-combo re-reads."""
    import math

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    # i and N from the SAME window partition — no hourly self-join, one scan
    w = Window.partitionBy("event_type").orderBy("h")
    j = hourly.select(
        "event_type", "x",
        (F.row_number().over(w) - 1).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("N"),
    )
    combos = F.explode(
        F.array(
            *[
                F.struct(F.lit(q).alias("q"), F.lit(k).alias("k"))
                for q in (1, 2, 3)
                for k in (1, 2, 3)
            ]
        )
    ).alias("c")
    e = j.select("event_type", "x", "i", "N", combos).select(
        "event_type", "x", "i", "N",
        F.col("c.q").alias("q"), F.col("c.k").alias("k"),
        F.floor(F.col("c.q") * F.col("N") / 4).alias("ctr"),
    )
    d = F.col("i") - F.col("ctr")
    gauss = F.exp(-(d * d) * F.col("k") * F.col("k") / (2.0 * F.col("N") * F.col("N")))
    ang = F.lit(2.0 * math.pi) * F.col("k") * d / F.col("N")
    return (
        e.groupBy("event_type", "q", "k")
        .agg(
            _e6(F.sum(F.col("x") * gauss * F.cos(ang))).alias("re_e6"),
            _e6(F.sum(F.col("x") * gauss * F.sin(ang))).alias("im_e6"),
        )
        .select(
            "event_type",
            F.col("q").cast("long").alias("q"),
            F.col("k").cast("long").alias("k"),
            "re_e6", "im_e6",
        )
        .orderBy("event_type", "q", "k")
    )


_NSGT_BANDS = (1, 2, 4)  # octave-spaced bands; window length halves per band


def q_events_nsgt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NSGT — non-stationary Gabor tiling, the property that distinguishes
    it from the fixed-hop STFT and from the S-transform's fixed centers
    (/root/reference/src/nsgt_algorithm.c: each band gets its OWN window
    length and hop, log-spaced, with a minimum-length floor —
    nsgtObj_setMinLength). Analog over each event type's hourly series:
    band b ∈ {1,2,4} tiles the series into consecutive frames of length
    L_b = max(ceil(N/(4b)), 3) (high bands → short windows, octave spacing)
    and evaluates one Gabor atom per frame (one cycle per window:
    ang = 2π·(i mod L_b)/L_b). Emits per (event_type, band, frame) the
    atom's re/im and support.

    Determinism: the angle is a ratio of exact integers (i mod L over L),
    identical in both engines; sums are e6-rounded. Plan: ONE hourly scan,
    window index, exploded band dimension, single groupBy — no per-band
    re-read."""
    import math

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    j = hourly.select(
        "event_type", "x",
        (F.row_number().over(w) - 1).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("N"),
    )
    bands = F.explode(
        F.array(*[F.lit(b) for b in _NSGT_BANDS])
    ).alias("band")
    e = j.select("event_type", "x", "i", "N", bands)
    # integer ceil-div keeps L identical across engines; floor(...) twins //
    L = F.greatest(
        F.floor((F.col("N") + 4 * F.col("band") - 1) / (4 * F.col("band"))),
        F.lit(3),
    )
    e = e.withColumn("L", L.cast("long")).select(
        "event_type", "x", "band", "L",
        F.floor(F.col("i") / F.col("L")).alias("frame"),
        (F.col("i") % F.col("L")).alias("r"),
    )
    ang = F.lit(2.0 * math.pi) * F.col("r") / F.col("L")
    return (
        e.groupBy("event_type", "band", "frame")
        .agg(
            _e6(F.sum(F.col("x") * F.cos(ang))).alias("re_e6"),
            _e6(F.sum(F.col("x") * F.sin(ang))).alias("im_e6"),
            F.count(F.lit(1)).alias("n_support"),
        )
        .select(
            "event_type",
            F.col("band").cast("long").alias("band"),
            F.col("frame").cast("long").alias("frame"),
            "re_e6", "im_e6", "n_support",
        )
        .orderBy("event_type", "band", "frame")
    )


_PHASE_FRAMES = 8  # target frame count for the phase queries' tiling


def _frame_bin1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared tiling for the phase-domain queries: each event type's hourly
    series cut into ~8 consecutive frames (L = max(ceil(N/8), 3)), one DFT
    atom per frame at one cycle/frame (the events_nsgt machinery, single
    band). Returns (event_type, frame, re_e6, im_e6) — e6-rounded FIRST so
    every downstream phase/magnitude is computed from identical integers in
    both engines."""
    import math

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    j = hourly.select(
        "event_type", "x",
        (F.row_number().over(w) - 1).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("N"),
    )
    L = F.greatest(
        F.floor((F.col("N") + _PHASE_FRAMES - 1) / _PHASE_FRAMES), F.lit(3)
    ).cast("long")
    f = j.withColumn("L", L).select(
        "event_type", "x", "L",
        F.floor(F.col("i") / F.col("L")).alias("frame"),
        (F.col("i") % F.col("L")).alias("r"),
    )
    ang = F.lit(2.0 * math.pi) * F.col("r") / F.col("L")
    return f.groupBy("event_type", "frame").agg(
        _e6(F.sum(F.col("x") * F.cos(ang))).alias("re_e6"),
        _e6(F.sum(F.col("x") * F.sin(ang))).alias("im_e6"),
    )


def q_events_phase_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-domain onset novelty — the reference's pd/wpd and cd detectors
    (/root/reference/src/flux_spectral.c:557-625 spectral_pd family analogs: phase deviation = second
    difference of the per-frame phase, weighted variant scales by magnitude,
    complex domain = distance to the phase-predicted spectrum). Per event
    type over the frame series of _frame_bin1:

      φ'' = φ_f − 2φ_{f−1} + φ_{f−2}, wrapped to (−π, π]
      pd   = mean |wrap(φ'')|                    (flux_spectral.c:601)
      wpd  = mean m_f·|wrap(φ'')|                (:611, isWeight)
      nwpd = Σ m_f·|wrap(φ'')| / Σ m_f           (:620, isNorm — wpd/avg(m))
      cd   = Σ |X_f − m_{f−1}·e^{i(2φ_{f−1}−φ_{f−2})}|   (:696)
      rcd  = same sum restricted to rising bins m_f > m_{f−1}  (:714)

    Determinism: φ and m derive from the e6-rounded re/im integers (both
    engines feed atan2/sqrt identical IEEE doubles); the wrap uses
    x − 2π·floor(x/2π + 1/2) — floor, never round, because the engines'
    round() tie rules differ."""
    import math

    two_pi = 2.0 * math.pi
    fr = _frame_bin1(spark, sf_dir)
    re = F.col("re_e6").cast("double") / F.lit(1e6)
    im = F.col("im_e6").cast("double") / F.lit(1e6)
    base = fr.select(
        "event_type", "frame",
        re.alias("re"), im.alias("im"),
        F.atan2(im, re).alias("phi"),
        F.sqrt(re * re + im * im).alias("mag"),
    )
    w = Window.partitionBy("event_type").orderBy("frame")
    lagged = base.select(
        "event_type", "frame", "re", "im", "phi", "mag",
        F.lag("phi", 1).over(w).alias("phi1"),
        F.lag("phi", 2).over(w).alias("phi2"),
        F.lag("mag", 1).over(w).alias("mag1"),
    ).filter(F.col("phi2").isNotNull())
    dd = F.col("phi") - 2 * F.col("phi1") + F.col("phi2")
    wrapped = dd - F.lit(two_pi) * F.floor(dd / F.lit(two_pi) + F.lit(0.5))
    pred_ang = 2 * F.col("phi1") - F.col("phi2")
    dre = F.col("re") - F.col("mag1") * F.cos(pred_ang)
    dim = F.col("im") - F.col("mag1") * F.sin(pred_ang)
    scored = lagged.select(
        "event_type", "mag",
        F.abs(wrapped).alias("dev"),
        F.sqrt(dre * dre + dim * dim).alias("cdist"),
        (F.col("mag") > F.col("mag1")).alias("rising"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            _e6(F.avg("dev")).alias("pd_e6"),
            _e6(F.avg(F.col("mag") * F.col("dev"))).alias("wpd_e6"),
            _e6(F.sum(F.col("mag") * F.col("dev")) / F.sum("mag")).alias("nwpd_e6"),
            _e6(F.sum("cdist")).alias("cd_e6"),
            _e6(F.sum(F.when(F.col("rising"), F.col("cdist")).otherwise(F.lit(0.0)))).alias("rcd_e6"),
            F.count(F.lit(1)).alias("n_frames"),
        )
        .orderBy("event_type")
    )


def q_events_phase_unwrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase unwrap (/root/reference/src/vector/flux_vector.c:877-903 __munwrap):
    the per-frame phase series made continuous by subtracting 2π·k at every
    jump — k accumulates via a window CUMSUM of per-step jump counts
    floor(Δφ/2π + 1/2), the distributed form of the sequential unwrap loop.
    Emits the raw and unwrapped phase per frame (e6)."""
    import math

    two_pi = 2.0 * math.pi
    fr = _frame_bin1(spark, sf_dir)
    re = F.col("re_e6").cast("double") / F.lit(1e6)
    im = F.col("im_e6").cast("double") / F.lit(1e6)
    base = fr.select("event_type", "frame", F.atan2(im, re).alias("phi"))
    w = Window.partitionBy("event_type").orderBy("frame")
    d = F.col("phi") - F.lag("phi", 1).over(w)
    stepped = base.withColumn(
        "k", F.when(d.isNull(), F.lit(0)).otherwise(
            F.floor(d / F.lit(two_pi) + F.lit(0.5))
        )
    )
    cum = stepped.withColumn(
        "c", F.sum("k").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        cum.select(
            "event_type",
            F.col("frame").cast("long").alias("frame"),
            _e6(F.col("phi")).alias("phase_e6"),
            _e6(F.col("phi") - F.lit(two_pi) * F.col("c")).alias("unwrap_e6"),
        )
        .orderBy("event_type", "frame")
    )


def _vocoder_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared phase-vocoder core (/root/reference/src/dsp/phase_vocoder.c:19-113, driven by
    mir/timeStretch_algorithm.c:143): output step i samples analysis time
    t = i·rate — magnitude is the (1−α, α) lerp of |X| at frames k=floor(t)
    and k+1 (zero past the end), phase ACCUMULATES φ_exp + wrap(Δφ − φ_exp)
    per step from frame 0's seed phase. Analog over the shared ~8-frame
    bin-1 tiling (_frame_bin1): hop == frame length L, so the expected
    advance φ_exp = 2π·hop/L = 2π exactly, for every event type. rate = 1/2
    (2× stretch; the reference documents rate 0.5..2): k = floor(i/2)
    inverts to "frame k emits steps 2k (α=0) and 2k+1 (α=1/2)", so the step
    dimension is an explode, never a join.

    Determinism: the per-step phase increment is e6-QUANTIZED to BIGINT
    BEFORE the window cumsum — an integer sum is exact in both engines,
    while a double cumsum would expose DuckDB's segment-tree addition order
    against Spark's sequential one. The wrap uses floor(x/2π + ½), never
    round. Scale: one scan, per-key windows over ≤ 2·F tiny frame rows,
    zero joins — the distributed shape of the reference's sequential
    per-step loop."""
    import math

    two_pi = 2.0 * math.pi
    fr = _frame_bin1(spark, sf_dir)
    re = F.col("re_e6").cast("double") / F.lit(1e6)
    im = F.col("im_e6").cast("double") / F.lit(1e6)
    base = fr.select(
        "event_type", "frame",
        F.atan2(im, re).alias("phi"),
        F.sqrt(re * re + im * im).alias("mag"),
    )
    w = Window.partitionBy("event_type").orderBy("frame")
    d = F.lead("phi", 1, 0.0).over(w) - F.col("phi") - F.lit(two_pi)
    inc = F.lit(two_pi) + d - F.lit(two_pi) * F.floor(d / F.lit(two_pi) + F.lit(0.5))
    led = base.select(
        "event_type", "frame", "mag", "phi",
        F.lead("mag", 1, 0.0).over(w).alias("mag_n"),
        _e6(inc).alias("inc_e6"),
        F.first(_e6(F.col("phi"))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("phi0_e6"),
    )
    stepped = led.select(
        "event_type", "frame", "mag", "mag_n", "phi0_e6", "inc_e6",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("s"),
    ).select(
        "event_type", "phi0_e6", "inc_e6",
        (2 * F.col("frame") + F.col("s")).alias("step"),
        F.when(F.col("s") == 0, F.col("mag"))
        .otherwise(0.5 * (F.col("mag") + F.col("mag_n")))
        .alias("mag_out"),
    )
    ws = Window.partitionBy("event_type").orderBy("step")
    cum_prev = F.coalesce(
        F.sum("inc_e6").over(ws.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    psi = (F.col("phi0_e6") + cum_prev).cast("double") / F.lit(1e6)
    return stepped.select(
        "event_type",
        F.col("step").cast("long").alias("step"),
        F.col("mag_out").alias("mag_out"),
        psi.alias("psi"),
    )


def q_events_timestretch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-vocoder time stretch at rate 1/2 — SURVEY §2.9 TimeStretch
    (/root/reference/src/mir/timeStretch_algorithm.c:142-148: STFT → phase_vocoder →
    ISTFT; the analog emits the stretched complex spectrum itself, 2F
    output steps per event type). See _vocoder_steps for the exact
    per-step semantics and the e6-integer-cumsum determinism rule."""
    s = _vocoder_steps(spark, sf_dir)
    return s.select(
        "event_type", "step",
        _e6(F.col("mag_out") * F.cos(F.col("psi"))).alias("out_re_e6"),
        _e6(F.col("mag_out") * F.sin(F.col("psi"))).alias("out_im_e6"),
        _e6(F.col("mag_out")).alias("mag_e6"),
    ).orderBy("event_type", "step")


def q_events_pitchshift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pitch shift by +12 semitones — SURVEY §2.9 PitchShift
    (/root/reference/src/mir/pitchShift_algorithm.c:51-75: rate = 2^(−semitone/12) = 1/2,
    time-stretch at that rate, then resample by the same factor back to the
    original length). The analog decimates the stretched step series at
    stride 2 (nearest-neighbor form of the reference's polyphase resample —
    the FIR machinery itself is exercised by events_resample/events_fir):
    out[t] = stretched[2t], t = 0..F−1. The odd steps' phase increments
    still accumulate — decimation happens AFTER the cumsum, exactly as the
    resampler consumes the vocoder's full output."""
    s = _vocoder_steps(spark, sf_dir)
    return (
        s.filter(F.col("step") % 2 == 0)
        .select(
            "event_type",
            (F.col("step") / F.lit(2)).cast("long").alias("t"),
            _e6(F.col("mag_out") * F.cos(F.col("psi"))).alias("out_re_e6"),
            _e6(F.col("mag_out") * F.sin(F.col("psi"))).alias("out_im_e6"),
        )
        .orderBy("event_type", "t")
    )


_PWT_CENTERS = (1, 2, 4)  # log-spaced band centers (binPerOctave analog)
_PWT_PROBE_BINS = (1, 2, 3, 4, 5, 6)


def q_events_pwt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PWT — pseudo-wavelet transform: a frequency-domain wavelet FILTERBANK
    applied to the FFT spectrum (/root/reference/src/pwt_algorithm.c: per
    band, the spectrum is multiplied by a band window centered at a
    log-spaced frequency; 'pseudo' = FFT-multiply, not time-domain
    convolution — distinct from the CWT scalogram's time-domain kernels,
    events_scalogram). Analog: DFT power of the hourly series at probe bins
    k = 1..6 (the goertzel e6 contract), then per band c ∈ {1,2,4} the
    Gaussian-weighted band energy Σ_k exp(−(k−c)²/(2·(c/2)²))·P(k) —
    bandwidth proportional to center, the constant-Q shape binPerOctave
    encodes.

    Determinism: P(k) comes from e6-rounded re/im BIGINTs; weights are
    exp of ratios of exact integers — both engines feed identical IEEE
    inputs. One scan, one groupBy for all bins, exploded band dimension."""
    import math

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    j = hourly.select(
        "event_type", "x",
        (F.row_number().over(w) - 1).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("N"),
    )
    two_pi = F.lit(2.0 * math.pi)
    aggs = []
    for k in _PWT_PROBE_BINS:
        ang = two_pi * F.lit(float(k)) * F.col("i") / F.col("N")
        aggs.append(_e6(F.sum(F.col("x") * F.cos(ang))).alias(f"re{k}"))
        aggs.append(_e6(F.sum(F.col("x") * F.sin(ang))).alias(f"im{k}"))
    spec = j.groupBy("event_type").agg(*aggs)

    def p_of(k: int) -> F.Column:
        re = F.col(f"re{k}").cast("double") / F.lit(1e6)
        im = F.col(f"im{k}").cast("double") / F.lit(1e6)
        return re * re + im * im

    structs = []
    for c in _PWT_CENTERS:
        sigma2 = 2.0 * (c / 2.0) ** 2
        energy = None
        for k in _PWT_PROBE_BINS:
            term = F.lit(math.exp(-((k - c) ** 2) / sigma2)) * p_of(k)
            energy = term if energy is None else energy + term
        structs.append(
            F.struct(
                F.lit(c).cast("long").alias("band"),
                _e6(energy).alias("energy_e6"),
            )
        )
    return (
        spec.select("event_type", F.explode(F.array(*structs)).alias("z"))
        .select("event_type", "z.band", "z.energy_e6")
        .orderBy("event_type", "band")
    )


def q_events_czt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zoom DFT — the chirp-Z transform's use case
    (/root/reference/src/dsp/czt_algorithm.c: evaluate the spectrum on a
    fine grid over a narrow band instead of the N coarse FFT bins). The
    hourly series is probed at FRACTIONAL bins k ∈ {1.0, 1.25, 1.5, 1.75,
    2.0} — spacing no plain DFT over the same series offers. Same
    grouped-weighted-sum plan as the DCT/Goertzel queries: one scan, one
    aggregation."""
    import math

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    # i and N from the SAME window partition — no hourly self-join, one scan
    w = Window.partitionBy("event_type").orderBy("h")
    j = hourly.select(
        "event_type", "x",
        (F.row_number().over(w) - 1).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("N"),
    )
    two_pi = F.lit(2.0 * math.pi)
    aggs = []
    for q, k in ((4, 1.0), (5, 1.25), (6, 1.5), (7, 1.75), (8, 2.0)):
        ang = two_pi * F.lit(k) * F.col("i") / F.col("N")
        aggs.append(_e6(F.sum(F.col("x") * F.cos(ang))).alias(f"re{q}q_e6"))
        aggs.append(_e6(F.sum(F.col("x") * F.sin(ang))).alias(f"im{q}q_e6"))
    return j.groupBy("event_type").agg(*aggs).orderBy("event_type")


_HILBERT_HALF = 4  # FIR quadrature half-width: taps at odd j in [-4, 4]


def _hilbert_taps() -> list[tuple[int, float]]:
    """Antisymmetric FIR Hilbert approximation: h_j = 2/(jπ) for odd j."""
    import math

    return [
        (j, 2.0 / (j * math.pi))
        for j in range(-_HILBERT_HALF, _HILBERT_HALF + 1)
        if j % 2 != 0
    ]


def q_events_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-signal envelope — the reference's Hilbert transform
    (/root/reference/src/dsp/hilbert_algorithm.c: quadrature component via
    90° phase shift, envelope = |x + i·H(x)|), realized as the classic FIR
    approximation h_j = 2/(jπ) at odd lags: y_t = Σ h_j·x_{t−j},
    envelope_t = √(x_t² + y_t²). Per-user lag/lead window over one scan,
    'valid' support only — linear, no joins."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "event_id", "value", _epoch_ntz("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    y = None
    for j, h in _hilbert_taps():
        col = F.lag("value", j).over(w) if j > 0 else F.lead("value", -j).over(w)
        term = F.lit(h) * col
        y = term if y is None else y + term
    env = F.sqrt(F.col("value") * F.col("value") + F.col("y") * F.col("y"))
    return (
        ev.withColumn("y", y)
        .filter(F.col("y").isNotNull())
        .select(
            "event_id",
            _e6(F.col("y")).alias("quad_e6"),
            _e6(env).alias("env_e6"),
        )
        .orderBy("event_id")
    )


def q_doc_hps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic-product-spectrum pitch picker over the token domain — the
    reference's PitchHPS (/root/reference/src/mir/_pitch_hps.c: multiply the
    spectrum with its 2×/3× downsampled copies, take the argmax bin). Here
    the 'spectrum' is tf at frequency-rank r (terms ranked tf desc, term asc)
    and the product is taken in the log domain: L_k = Σ_{h=1..3} ln(s_{hk}),
    pitch = argmax_k L_k (e6-rounded before ranking so both engines break
    near-ties identically, smallest k wins). Plan: one tokenize scan, one tf
    aggregation, one rank window, then the per-doc spectrum is folded into a
    bounded array and the harmonic product + argmax run as pure array
    expressions — no self-joins, nothing re-scanned (a join formulation
    re-tokenized the corpus 4×; `.explain` caught it). Reads the shared
    _doc_tf artifact instead of re-tokenizing."""
    tf = _doc_tf(spark, sf_dir).select(
        "doc_id", "term", F.col("tf").cast("double").alias("s")
    )
    # r6: the rank window is gone — array_sort over struct(-s, term)
    # reproduces the (s desc, term asc) rank order per doc inside ONE hash
    # aggregation (no partition-wide sort, no row_number pass; the per-doc
    # arrays are bounded by the doc's distinct-term count)
    sp = (
        tf.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct((-F.col("s")).alias("ns"), "term"))
            ).alias("a")
        )
        .select(
            "doc_id", F.transform("a", lambda x: F.log(-x["ns"])).alias("sp")
        )
    )
    ls = lambda k: F.element_at(F.col("sp"), k)  # 1-based rank lookup
    cand = F.sequence(F.lit(1), (F.size("sp") / 3).cast("int"))
    hps = F.transform(
        cand,
        lambda k: F.struct(
            F.round((ls(k) + ls(k * 2) + ls(k * 3)) * 1e6).cast("long").alias("L"),
            (-k).alias("negk"),  # struct max = max L, then max(-k) = min k
        ),
    )
    best = F.array_max(hps)
    return (
        sp.filter(F.size("sp") >= 3)
        .select(
            "doc_id",
            (-best["negk"]).cast("long").alias("pitch_k"),
            best["L"].alias("hps_log_e6"),
        )
        .orderBy("doc_id")
    )


def q_doc_envelope_residue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cepstral deconvolution — the reference's deconv feature
    (/root/reference/src/feature/deconv_algorithm.c: split a spectrum into a
    smooth envelope and an excitation residue via the cepstrum). Per doc:
    log-spectrum x_i = ln(1+tf) at alphabetical term rank i; forward DCT-II
    keeps Q=3 coefficients; the envelope is their DCT-III reconstruction
    e_i = c_0/M + (2/M)·Σ_{k=1..Q-1} c_k·cos(πk(i+½)/M); residue = x − e.
    Emitted as per-doc envelope/residue energies. Two aggregations over the
    shared _doc_tf artifact (r6 rotation plan — no per-query tokenize),
    joined back on doc_id — co-partitioned, linear."""
    import math

    tf = _doc_tf(spark, sf_dir).select(
        "doc_id", "term", F.col("tf").cast("double").alias("tf")
    )
    w = Window.partitionBy("doc_id").orderBy("term")
    # M from the same window partition — no tf self-join (which re-ran the
    # whole tokenize scan on the join's second branch)
    j = (
        tf.withColumn("i", F.row_number().over(w) - 1)
        .withColumn("x", F.log(F.lit(1.0) + F.col("tf")))
        .withColumn("M", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    pi = F.lit(math.pi)
    ceps = j.groupBy("doc_id").agg(
        *[
            F.sum(
                F.col("x")
                * F.cos(pi / F.col("M") * (F.col("i") + F.lit(0.5)) * F.lit(float(k)))
            ).alias(f"c{k}")
            for k in range(3)
        ]
    )
    env = (
        F.col("c0") / F.col("M")
        + (F.lit(2.0) / F.col("M"))
        * (
            F.col("c1") * F.cos(pi * F.lit(1.0) * (F.col("i") + F.lit(0.5)) / F.col("M"))
            + F.col("c2") * F.cos(pi * F.lit(2.0) * (F.col("i") + F.lit(0.5)) / F.col("M"))
        )
    )
    rows = j.join(ceps, "doc_id").withColumn("e", env).withColumn(
        "res", F.col("x") - F.col("e")
    )
    return (
        rows.groupBy("doc_id")
        .agg(
            _e6(F.sum(F.col("e") * F.col("e"))).alias("env_energy_e6"),
            _e6(F.sum(F.col("res") * F.col("res"))).alias("res_energy_e6"),
        )
        .orderBy("doc_id")
    )


def q_events_cepstrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cepstrogram — the reference's framed cepstrum
    (/root/reference/src/feature/xxcc_algorithm.c cepstrogram path: one
    cepstrum per STFT frame). Frame = (event_type, UTC day); spectrum =
    ln(1+count) over the 24 hour-of-day bins (fixed N=24, so no rank window
    is needed and absent hours contribute exactly 0); DCT-II truncated to 3
    quefrency coefficients per frame. One scan, one groupBy — partial
    aggregation map-side, scales linearly in events."""
    import math

    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type",
        F.floor(_epoch_ntz("ts") / 86400).alias("day"),
        F.floor((_epoch_ntz("ts") % 86400) / 3600).alias("h"),
    )
    hourly = e.groupBy("event_type", "day", "h").agg(
        F.log(F.lit(1.0) + F.count(F.lit(1))).alias("x")
    )
    pi = F.lit(math.pi)
    aggs = [
        _e6(
            F.sum(
                F.col("x")
                * F.cos(pi / F.lit(24.0) * (F.col("h") + F.lit(0.5)) * F.lit(float(k)))
            )
        ).alias(f"c{k}_e6")
        for k in range(3)
    ]
    return (
        hourly.groupBy("event_type", "day")
        .agg(*aggs)
        .orderBy("event_type", "day")
    )


def q_doc_cepstrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cepstrum: log-compress the term-rank 'spectrum' (ln(1+tf) at
    alphabetical term rank) then DCT-II, truncated to 3 coefficients — the
    reference's xxcc/cepstrogram chain (log → DCT → truncate,
    /root/reference/src/feature/xxcc_algorithm.c) over the token domain.
    Reads the shared _doc_tf artifact instead of re-tokenizing (r6 rotation
    plan)."""
    import math

    tf = _doc_tf(spark, sf_dir).select(
        "doc_id", "term", F.col("tf").cast("double").alias("tf")
    )
    w = Window.partitionBy("doc_id").orderBy("term")
    # M from the same window partition — no tf self-join (which re-ran the
    # whole tokenize scan on the join's second branch)
    j = (
        tf.withColumn("i", F.row_number().over(w) - 1)
        .withColumn("x", F.log(F.lit(1.0) + F.col("tf")))
        .withColumn("M", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    pi = F.lit(math.pi)
    aggs = [
        _e6(
            F.sum(
                F.col("x")
                * F.cos(pi / F.col("M") * (F.col("i") + F.lit(0.5)) * F.lit(float(k)))
            )
        ).alias(f"c{k}_e6")
        for k in range(3)
    ]
    return j.groupBy("doc_id").agg(*aggs).orderBy("doc_id")


def q_doc_rolloff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc rolloff over the term axis — the reference's spectral rolloff
    (/root/reference/src/feature/spectral_algorithm.c:282: smallest bin whose
    cumulative energy reaches η·total, η=0.85), with frequency rank →
    alphabetical term rank and energy → term frequency. Window cumsum in
    term order is deterministic in both engines (integer-valued doubles).
    Reads the shared _doc_tf artifact instead of re-tokenizing (r6 rotation
    plan)."""
    tf = _doc_tf(spark, sf_dir).select(
        "doc_id", "term", F.col("tf").cast("double").alias("w")
    )
    wk = Window.partitionBy("doc_id").orderBy("term")
    wd = Window.partitionBy("doc_id")
    # per-doc totals from the same window partition — no tf self-join /
    # second tokenize pass (sums of integer-valued doubles: order-exact)
    ranked = (
        tf.withColumn("k", F.row_number().over(wk))
        .withColumn("cum", F.sum("w").over(wk))
        .withColumn("tot", F.sum("w").over(wd))
        .withColumn("n_terms", F.count(F.lit(1)).over(wd))
    )
    roll = (
        ranked.filter(F.col("cum") >= 0.85 * F.col("tot"))
        .groupBy("doc_id", "n_terms")
        .agg(F.min("k").alias("rolloff_k"))
    )
    return roll.select(
        "doc_id",
        F.col("rolloff_k").cast("long").alias("rolloff_k"),
        "n_terms",
        _e6(F.col("rolloff_k") / F.col("n_terms")).alias("rolloff_frac_e6"),
    ).orderBy("doc_id")


def q_events_yin_trough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user first qualifying trough — the YIN pitch picker's
    trough-select (/root/reference/src/mir/_pitch_yin.c:273-460: first local
    minimum of the cumulative-mean-normalized difference under a threshold):
    first event that is a strict local minimum AND below the user's
    (min+max)/2 level. min/max are order-independent, so the threshold is
    bit-identical across engines (unlike a mean, whose summation order
    differs)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "event_id", "value", _epoch_ntz("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    wu = Window.partitionBy("user_id")
    x = ev.select(
        "user_id", "event_id", "value", "t",
        F.lag("value").over(w).alias("prev"),
        F.lead("value").over(w).alias("next"),
        ((F.min("value").over(wu) + F.max("value").over(wu)) / 2).alias("thresh"),
    )
    tr = x.filter(
        F.col("prev").isNotNull()
        & F.col("next").isNotNull()
        & (F.col("value") < F.col("prev"))
        & (F.col("value") < F.col("next"))
        & (F.col("value") < F.col("thresh"))
    ).withColumn("rn", F.row_number().over(w))  # rank among troughs only
    return (
        tr.filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("trough_event_id"),
            _e6(F.col("value")).alias("trough_value_e6"),
            F.col("t").alias("trough_t"),
        )
        .orderBy("user_id")
    )


def q_events_synsq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchrosqueezed scalogram — reassignment APPLIED TO the multi-scale
    response, composing events_scalogram with events_reassign's centroid
    re-binning (/root/reference/src/synsq_algorithm.c,
    wsst_algorithm.c: the CWT's energy is moved from each (scale, bin) to
    the locally-estimated center before summing). Per scale, each bin's
    energy m = y² moves to the local energy centroid of its ±1-bin
    neighborhood; mass is re-aggregated at the squeezed bin. NOTE: the
    "±1-bin" neighbors are ROW-adjacent over the hourly series (lag/lead),
    so across a gap in hours the neighbor is the previous/next EXISTING
    bin, not h∓1 — a sparse-series convention the DuckDB twin shares
    (identical lag/lead), so parity is by construction.

    Determinism: the Bartlett taper uses INTEGER weights (s+1−|j| — the
    normalization constant cancels inside the centroid ratio), so y, m and
    the centroid numerator/denominator are all exact integers and the
    squeezed bin is an integer division — bit-identical across engines, no
    fp floor boundary. Plan: one hourly aggregation, two window passes, one
    final groupBy; linear in events, no joins."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy("event_type").orderBy("h")
    ycols = []
    for s in _SCALOGRAM_SCALES:
        y = None
        for j in range(-s, s + 1):
            wt = s + 1 - abs(j)  # integer Bartlett, peak s+1 at j=0
            col = F.lag("x", j).over(w) if j >= 0 else F.lead("x", -j).over(w)
            term = F.lit(wt) * col
            y = term if y is None else y + term
        ycols.append(y.alias(f"y{s}"))
    resp = hourly.select("event_type", "h", *ycols)
    ys = [
        F.struct(F.lit(s).cast("long").alias("scale"), F.col(f"y{s}").alias("y"))
        for s in _SCALOGRAM_SCALES
    ]
    stacked = (
        resp.select("event_type", "h", F.explode(F.array(*ys)).alias("z"))
        .select("event_type", "h", F.col("z.scale").alias("scale"), F.col("z.y").alias("y"))
        .filter(F.col("y").isNotNull())
        .withColumn("m", F.col("y") * F.col("y"))
    )
    w2 = Window.partitionBy("event_type", "scale").orderBy("h")
    nb = stacked.select(
        "event_type", "scale", "h", "m",
        F.lag("m").over(w2).alias("pm"), F.lag("h").over(w2).alias("ph"),
        F.lead("m").over(w2).alias("nm"), F.lead("h").over(w2).alias("nh"),
    )
    num = (
        F.coalesce(F.col("pm") * F.col("ph"), F.lit(0))
        + F.col("m") * F.col("h")
        + F.coalesce(F.col("nm") * F.col("nh"), F.lit(0))
    )
    den = F.coalesce("pm", F.lit(0)) + F.col("m") + F.coalesce("nm", F.lit(0))
    sq = nb.withColumn("num", num).withColumn("den", den).withColumn(
        "r", F.when(F.col("den") > 0, F.expr("num div den")).otherwise(F.col("h"))
    )
    return (
        sq.groupBy("event_type", "scale", "r")
        .agg(
            F.sum("m").alias("mass"),
            F.sum(F.when(F.col("r") != F.col("h"), 1).otherwise(0)).alias("moved_bins"),
            F.count(F.lit(1)).alias("n_bins"),
        )
        .orderBy("event_type", "scale", "r")
    )


_NCF_LAGS = (2, 3, 4, 5, 6, 7)  # candidate periods, in hours


def q_events_ncf_pitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-autocorrelation pitch over the hourly activity series —
    the reference's NCF pitch estimator (/root/reference/src/mir/
    _pitch_ncf.c:547: ncf(τ) = Σ x_i·x_{i+τ} / √(Σ x_i²·Σ x_{i+τ}²) over the
    overlap, pitch = argmax over candidate lags; LHS/PEF share the shape).
    Per event type, the best lag (ties → smaller lag) and its NCF.

    Determinism: numerator and both denominator sums are exact integer sums
    of counts (only the final √/divide/round is fp, on identical integers in
    both engines). Plan: one hourly aggregation, ONE window pass computing
    every lag's lead column, one aggregation with per-lag conditional sums,
    explode to a lag dimension, rank — no self-joins, no re-scans."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy("event_type").orderBy("h")
    leads = hourly.select(
        "event_type", "x",
        *[F.lead("x", L).over(w).alias(f"l{L}") for L in _NCF_LAGS],
    )
    aggs = []
    for L in _NCF_LAGS:
        lc = F.col(f"l{L}")
        aggs += [
            F.sum(F.when(lc.isNotNull(), F.col("x") * lc)).alias(f"num{L}"),
            F.sum(F.when(lc.isNotNull(), F.col("x") * F.col("x"))).alias(f"d1_{L}"),
            F.sum(lc * lc).alias(f"d2_{L}"),
            F.count(lc).alias(f"n{L}"),
        ]
    per_type = leads.groupBy("event_type").agg(*aggs)
    structs = [
        F.struct(
            F.lit(L).cast("long").alias("lag"),
            F.col(f"num{L}").alias("num"),
            F.col(f"d1_{L}").alias("d1"),
            F.col(f"d2_{L}").alias("d2"),
            F.col(f"n{L}").alias("n_overlap"),
        )
        for L in _NCF_LAGS
    ]
    lags = (
        per_type.select("event_type", F.explode(F.array(*structs)).alias("z"))
        .select("event_type", "z.lag", "z.num", "z.d1", "z.d2", "z.n_overlap")
        .filter((F.col("d1") > 0) & (F.col("d2") > 0))
    )
    # d1·d2 can graze 2^63 — multiply in doubles (both engines round the
    # same exact integers to the same doubles)
    ncf = F.col("num") / F.sqrt(F.col("d1").cast("double") * F.col("d2").cast("double"))
    scored = lags.withColumn("ncf_e6", _e6(ncf))
    wr = Window.partitionBy("event_type").orderBy(F.desc("ncf_e6"), "lag")
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type", F.col("lag").alias("pitch_lag"), "ncf_e6", "n_overlap"
        )
        .orderBy("event_type")
    )


_PEF_LAGS = (2, 3, 4, 5)  # candidate periods; comb taps at tau and 2*tau


def q_events_pef_pitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comb-filter (PEF) pitch over the hourly series — the reference's
    pitch-estimation-filter estimator (/root/reference/src/mir/_pitch_pef.c:
    a harmonic comb scores each candidate period by the signal's correlation
    with itself at the period AND its multiples). Per candidate τ:
    score(τ) = mean over full-support rows of x_i·(2·x_{i+τ} + x_{i+2τ})
    (integer harmonic weights 2:1), pitch = argmax (ties → smaller τ).

    Determinism: the comb sum and support count are exact integers; only
    the final mean/round is fp on identical integers. Same one-window-pass
    plan as events_ncf_pitch (leads at τ and 2τ for every candidate)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy("event_type").orderBy("h")
    need = sorted({off for t in _PEF_LAGS for off in (t, 2 * t)})
    leads = hourly.select(
        "event_type", "x",
        *[F.lead("x", o).over(w).alias(f"l{o}") for o in need],
    )
    aggs = []
    for t in _PEF_LAGS:
        l1, l2 = F.col(f"l{t}"), F.col(f"l{2 * t}")
        full = l1.isNotNull() & l2.isNotNull()
        aggs += [
            F.sum(F.when(full, F.col("x") * (2 * l1 + l2))).alias(f"s{t}"),
            F.sum(F.when(full, 1).otherwise(0)).alias(f"n{t}"),
        ]
    per_type = leads.groupBy("event_type").agg(*aggs)
    structs = [
        F.struct(
            F.lit(t).cast("long").alias("lag"),
            F.col(f"s{t}").alias("s"),
            F.col(f"n{t}").alias("n_support"),
        )
        for t in _PEF_LAGS
    ]
    lags = (
        per_type.select("event_type", F.explode(F.array(*structs)).alias("z"))
        .select("event_type", "z.lag", "z.s", "z.n_support")
        .filter(F.col("n_support") > 0)
    )
    scored = lags.withColumn(
        "pef_e6", _e6(F.col("s").cast("double") / F.col("n_support"))
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc("pef_e6"), "lag")
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("lag").alias("pitch_lag"), "pef_e6", "n_support")
        .orderBy("event_type")
    )


def q_events_wpt_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wavelet-PACKET rollup — unlike events_rollup_pyramid's DWT shape
    (approximation chain only), the packet tree decomposes BOTH branches at
    every level (/root/reference/src/wpt_algorithm.c: the detail output is
    filtered again, giving 2^level nodes). Haar packet over the hourly count
    series: level 1 pairs adjacent hours into sum/difference nodes (a, d);
    level 2 pairs each level-1 series again (aa, ad, da, dd). Per node:
    coefficient energy Σc² and count.

    All-integer arithmetic (Haar needs no fp), missing hours contribute 0 in
    both engines identically. Plan: one hourly aggregation + two cascaded
    groupBys (each halves the rows) + a per-node explode — no joins, no
    window functions at all."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("x"))
    sgn_h = 1 - 2 * (F.col("h") % 2)
    l1 = hourly.groupBy("event_type", F.expr("h div 2").alias("m")).agg(
        F.sum("x").alias("a"), F.sum(F.col("x") * sgn_h).alias("d")
    )
    # ONE cascade, ONE scan: the level-2 aggregation also carries the
    # level-1 energy partials (Σa², Σd², count), so the per-type rollup
    # below never re-reads hourly/l1 — the naive union of two grouped aggs
    # re-scanned the parquet per level (caught by .explain)
    sgn_m = 1 - 2 * (F.col("m") % 2)
    l2 = l1.groupBy("event_type", F.expr("m div 2").alias("q")).agg(
        F.sum("a").alias("aa"), F.sum(F.col("a") * sgn_m).alias("ad"),
        F.sum("d").alias("da"), F.sum(F.col("d") * sgn_m).alias("dd"),
        F.sum(F.col("a") * F.col("a")).alias("ea1"),
        F.sum(F.col("d") * F.col("d")).alias("ed1"),
        F.count(F.lit(1)).alias("n1"),
    )
    per_type = l2.groupBy("event_type").agg(
        F.sum("ea1").alias("e_a"), F.sum("ed1").alias("e_d"),
        F.sum("n1").alias("n_l1"),
        F.sum(F.col("aa") * F.col("aa")).alias("e_aa"),
        F.sum(F.col("ad") * F.col("ad")).alias("e_ad"),
        F.sum(F.col("da") * F.col("da")).alias("e_da"),
        F.sum(F.col("dd") * F.col("dd")).alias("e_dd"),
        F.count(F.lit(1)).alias("n_l2"),
    )
    nodes = [
        (1, "a", "e_a", "n_l1"), (1, "d", "e_d", "n_l1"),
        (2, "aa", "e_aa", "n_l2"), (2, "ad", "e_ad", "n_l2"),
        (2, "da", "e_da", "n_l2"), (2, "dd", "e_dd", "n_l2"),
    ]
    structs = [
        F.struct(
            F.lit(lvl).cast("long").alias("level"),
            F.lit(nm).alias("node"),
            F.col(ecol).alias("energy"),
            F.col(ncol).alias("n_coefs"),
        )
        for lvl, nm, ecol, ncol in nodes
    ]
    return (
        per_type.select("event_type", F.explode(F.array(*structs)).alias("z"))
        .select("event_type", "z.level", "z.node", "z.energy", "z.n_coefs")
        .orderBy("event_type", "level", "node")
    )


_SWT_LEVELS = (1, 2)  # undecimated Haar, dilation 2^(L-1)


def q_events_swt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary (undecimated) wavelet transform — the SWT's defining
    property vs DWT/WPT is NO decimation (/root/reference/src/
    swt_algorithm.c: every level keeps full-rate coefficients, shift-
    invariant): per level L the à-trous Haar pair over the hourly series,
    detail d_h = x_h − x_{h−2^{L−1}}, approx a_h = x_h + x_{h−2^{L−1}},
    evaluated at EVERY position (n_coefs stays ~n per level, vs the halving
    visible in events_wpt_rollup). All-integer; one hourly aggregation, one
    window pass, dilation exploded as a dimension."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = hourly.select(
        "event_type", "x",
        *[F.lag("x", 1 << (L - 1)).over(w).alias(f"p{L}") for L in _SWT_LEVELS],
    )
    structs = [
        F.struct(
            F.lit(L).cast("long").alias("level"),
            (F.col("x") - F.col(f"p{L}")).alias("d"),
            (F.col("x") + F.col(f"p{L}")).alias("a"),
        )
        for L in _SWT_LEVELS
    ]
    st = (
        lagged.select("event_type", F.explode(F.array(*structs)).alias("z"))
        .select("event_type", "z.level", "z.d", "z.a")
        .filter(F.col("d").isNotNull())
    )
    return (
        st.groupBy("event_type", "level")
        .agg(
            F.sum(F.col("d") * F.col("d")).alias("detail_energy"),
            F.sum(F.col("a") * F.col("a")).alias("approx_energy"),
            F.count(F.lit(1)).alias("n_coefs"),
        )
        .orderBy("event_type", "level")
    )


_STFT_PITCH_BINS = (1, 2, 3, 4)


def q_events_stft_pitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STFT-peak pitch — the reference's spectrum-argmax estimator
    (/root/reference/src/mir/_pitch_stft.c: pick the strongest DFT bin):
    dominant probe bin of each event type's hourly series over k = 1..4,
    emitting the winning bin with its re/im.

    Determinism: re/im are e6-rounded to BIGINT first (the goertzel
    contract, identical in both engines); the power compare then runs on
    DOUBLES DERIVED FROM THOSE EXACT INTEGERS (re_e6² + im_e6² would
    overflow int64, but identical integer inputs give identical IEEE
    products in both engines), ties → smaller bin."""
    import math

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    # i and N from the SAME window partition — no hourly self-join, one scan
    w = Window.partitionBy("event_type").orderBy("h")
    wp = Window.partitionBy("event_type")
    j = hourly.select(
        "event_type", "x",
        (F.row_number().over(w) - 1).alias("i"),
        F.count(F.lit(1)).over(wp).alias("N"),
    )
    two_pi = F.lit(2.0 * math.pi)
    aggs = []
    for k in _STFT_PITCH_BINS:
        ang = two_pi * F.lit(float(k)) * F.col("i") / F.col("N")
        aggs.append(_e6(F.sum(F.col("x") * F.cos(ang))).alias(f"re{k}"))
        aggs.append(_e6(F.sum(F.col("x") * F.sin(ang))).alias(f"im{k}"))
    spec = j.groupBy("event_type").agg(*aggs)
    structs = [
        F.struct(
            F.lit(k).cast("long").alias("bin"),
            F.col(f"re{k}").alias("re_e6"),
            F.col(f"im{k}").alias("im_e6"),
        )
        for k in _STFT_PITCH_BINS
    ]
    bins = spec.select("event_type", F.explode(F.array(*structs)).alias("z")).select(
        "event_type", "z.bin", "z.re_e6", "z.im_e6"
    )
    power = (
        F.col("re_e6").cast("double") * F.col("re_e6").cast("double")
        + F.col("im_e6").cast("double") * F.col("im_e6").cast("double")
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc(power), "bin")
    return (
        bins.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("bin").alias("pitch_bin"), "re_e6", "im_e6")
        .orderBy("event_type")
    )


_LHS_FUNDAMENTALS = (1, 2, 3)   # candidate fundamental bins j
_LHS_HARMONICS = 3              # harmonics summed per candidate (k = 1..3)
# DFT probe bins the estimator needs: every j*k product
_LHS_BINS = tuple(sorted({j * k for j in _LHS_FUNDAMENTALS
                          for k in range(1, _LHS_HARMONICS + 1)}))


def q_events_lhs_pitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-harmonic-summation (LHS) pitch — the reference's last remaining
    estimator (/root/reference/src/mir/_pitch_lhs.c:494-505: per candidate
    bin j, sum the LOG-magnitude spectrum at j's harmonics j·(k+1), then
    argmax, :528-533). Text analog over each event type's hourly count
    series: DFT re/im at every needed probe bin j·k (the goertzel
    contract), score(j) = Σ_{k=1..3} ln(1 + P(j·k)) with P from the
    e6-rounded re/im, pitch = argmax (ties → smaller j).

    Determinism: re/im are e6-rounded BIGINTs first (identical in both
    engines); P and the log-sum are then doubles DERIVED FROM THOSE EXACT
    INTEGERS, so both engines feed identical IEEE inputs to ln, and the
    final e6 grid swallows last-ulp libm differences. One scan: hourly agg
    → window index → one groupBy for all bins → explode candidates."""
    import math

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    wp = Window.partitionBy("event_type")
    j = hourly.select(
        "event_type", "x",
        (F.row_number().over(w) - 1).alias("i"),
        F.count(F.lit(1)).over(wp).alias("N"),
    )
    two_pi = F.lit(2.0 * math.pi)
    aggs = []
    for b in _LHS_BINS:
        ang = two_pi * F.lit(float(b)) * F.col("i") / F.col("N")
        aggs.append(_e6(F.sum(F.col("x") * F.cos(ang))).alias(f"re{b}"))
        aggs.append(_e6(F.sum(F.col("x") * F.sin(ang))).alias(f"im{b}"))
    spec = j.groupBy("event_type").agg(*aggs)

    def p_of(b: int) -> F.Column:
        re = F.col(f"re{b}").cast("double") / F.lit(1e6)
        im = F.col(f"im{b}").cast("double") / F.lit(1e6)
        return re * re + im * im

    structs = [
        F.struct(
            F.lit(jf).cast("long").alias("bin"),
            _e6(
                sum(
                    F.log(F.lit(1.0) + p_of(jf * k))
                    for k in range(1, _LHS_HARMONICS + 1)
                )
            ).alias("lhs_e6"),
        )
        for jf in _LHS_FUNDAMENTALS
    ]
    cands = spec.select(
        "event_type", F.explode(F.array(*structs)).alias("z")
    ).select("event_type", "z.bin", "z.lhs_e6")
    wr = Window.partitionBy("event_type").orderBy(F.desc("lhs_e6"), "bin")
    return (
        cands.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("bin").alias("pitch_bin"), "lhs_e6")
        .orderBy("event_type")
    )


_TUNE_TAUS = (2, 3, 4, 5, 6, 7, 8)  # candidate periods; neighbors 1..9 probed


def q_events_tune_track(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TuneTrack analog — the reference's instrument-tuner tracker
    (/root/reference/src/track/tune_track.c, C-only API: per frame, estimate
    the dominant pitch, snap to the nearest equal-temperament step, report
    the running cents deviation). Text analog: per (event_type, DAY), the
    dominant period of that day's hourly count series by autocorrelation
    comb, REFINED to fractional lag by parabolic interpolation over the
    integer-lag scores, and the "cents" deviation 1200·log2(τ̂/τ) of the
    refined period from the integer grid — a per-day tracking series, not a
    single global estimate (that is events_ncf_pitch).

    Determinism: comb sums/supports are exact integers; the three means
    feeding the parabola are e6-rounded BIGINTs, so both engines feed
    identical IEEE inputs to the δ division and log2, and the final e6 grid
    swallows last-ulp libm differences (the events_lhs_pitch discipline).
    Boundary/degenerate parabola (missing neighbor or zero curvature) → δ=0.

    One scan: hourly agg → per-(type,day) leads (the events_pef_pitch
    shape, day partitions bound every window) → one groupBy for all lags →
    explode candidates with neighbor means carried inline — no join-back,
    no global window."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("x"))
    day = hourly.withColumn("day", F.floor(F.col("h") / 24))
    w = Window.partitionBy("event_type", "day").orderBy("h")
    probes = range(1, _TUNE_TAUS[-1] + 2)  # 1..9: candidates + both neighbors
    leads = day.select(
        "event_type", "day", "x",
        *[F.lead("x", o).over(w).alias(f"l{o}") for o in probes],
    )
    aggs = []
    for t in probes:
        lt = F.col(f"l{t}")
        aggs += [
            F.sum(F.when(lt.isNotNull(), F.col("x") * lt)).alias(f"s{t}"),
            F.sum(F.when(lt.isNotNull(), 1).otherwise(0)).alias(f"n{t}"),
        ]
    per = leads.groupBy("event_type", "day").agg(*aggs)

    def m_e6(t: int) -> F.Column:
        # e6-rounded mean comb score at lag t; NULL when unsupported
        return F.when(
            F.col(f"n{t}") > 0,
            _e6(F.col(f"s{t}").cast("double") / F.col(f"n{t}")),
        )

    structs = [
        F.struct(
            F.lit(t).cast("long").alias("tau"),
            m_e6(t).alias("m"),
            m_e6(t - 1).alias("mlo"),
            m_e6(t + 1).alias("mhi"),
            F.col(f"n{t}").alias("n_support"),
        )
        for t in _TUNE_TAUS
    ]
    cands = (
        per.select("event_type", "day", F.explode(F.array(*structs)).alias("z"))
        .select("event_type", "day", "z.tau", "z.m", "z.mlo", "z.mhi", "z.n_support")
        .filter(F.col("m").isNotNull())
    )
    wr = Window.partitionBy("event_type", "day").orderBy(F.desc("m"), "tau")
    best = cands.withColumn("rn", F.row_number().over(wr)).filter(F.col("rn") == 1)
    den = F.col("mlo") - 2 * F.col("m") + F.col("mhi")
    # clamp to half a lag: the argmax runs over the candidate set, so a
    # NON-candidate neighbor (lag 1 or 9) can exceed the peak and push the
    # parabola vertex arbitrarily far — standard peak-interp discipline
    delta = F.when(
        F.col("mlo").isNotNull() & F.col("mhi").isNotNull() & (den != 0),
        F.greatest(
            F.lit(-0.5),
            F.least(
                F.lit(0.5),
                (F.col("mlo") - F.col("mhi")).cast("double")
                / (2.0 * den.cast("double")),
            ),
        ),
    ).otherwise(F.lit(0.0))
    refined = best.withColumn("delta", delta)
    return refined.select(
        "event_type",
        "day",
        F.col("tau").alias("pitch_lag"),
        _e6(F.col("tau") + F.col("delta")).alias("tau_hat_e6"),
        _e6(F.lit(1200.0) * F.log2(F.lit(1.0) + F.col("delta") / F.col("tau"))).alias(
            "cents_e6"
        ),
        "n_support",
    ).orderBy("event_type", "day")


PACK_CAP = 512          # tokens per training window
PACK_BUCKET_W = 256     # doc_ids per prefix-sum bucket (→ N/256 driver longs)


def q_doc_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training windows: documents concatenated in
    doc_id order and sliced into fixed PACK_CAP-token context windows; each
    doc is assigned to the window containing its first token (the standard
    concat-then-chunk LM pretraining layout). Per window: doc count, token
    sum, id range.

    Scale shape: the global running token offset is a DISTRIBUTED PREFIX
    SUM, not a global window — doc_ids bucket by `doc_id div 256`,
    per-bucket token totals (one long each) come to the driver, prefix
    offsets broadcast back, and the within-bucket cumsum is a
    partition-local window. The driver holds N/256 longs (bucket width is a
    build parameter — 10^8 at 10^12 docs keeps it ~10^4); no single-task
    global sort anywhere. The DuckDB twin states the same semantics as one
    global window cumsum."""
    # lens from the shared _doc_tf artifact: the bucket-totals pass and the
    # cumsum pass each re-executed this subtree, which previously meant TWO
    # full regex tokenize scans of the corpus text per call
    d = _doc_lens(spark, sf_dir).select(
        "doc_id",
        F.col("doc_id").cast("long").alias("did"),
        "len",
    ).withColumn("bucket", F.expr(f"did div {PACK_BUCKET_W}"))
    bucket_tot = (
        d.groupBy("bucket").agg(F.sum("len").alias("btot")).collect()
    )
    offs: list[tuple[int, int]] = []
    run = 0
    for r in sorted(bucket_tot, key=lambda r: r["bucket"]):
        offs.append((int(r["bucket"]), run))
        run += int(r["btot"])
    # offsets ship back as a BROADCAST-joined side table, not a create_map
    # literal: a map literal serializes every (bucket, offset) entry into
    # the plan/codegen, which at the N/256-entry scale above (~10^4-10^6)
    # is a plan-size bomb; the broadcast hash join stays O(1) in plan size
    off_df = spark.createDataFrame(offs, "bucket long, bucket_off long")
    wb = Window.partitionBy("bucket").orderBy("doc_id")
    cum = (
        d.join(F.broadcast(off_df), "bucket")
        .withColumn(
            "cum_before",
            F.col("bucket_off") + F.sum("len").over(wb) - F.col("len"),
        )
        .withColumn("window_id", F.expr(f"cum_before div {PACK_CAP}"))
    )
    return (
        cum.groupBy("window_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("len").alias("tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("window_id")
    )


SAMPLE_MOD = 4  # keep ~1/4 per stratum


def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for training-mix construction:
    within each lang stratum keep the docs whose content-independent hash
    bucket (first md5 hex char of the doc_id string, mod 4 — portable
    across engines) is 0. Emits per-stratum totals so a mix designer can
    verify rates; the kept-set is a pure filter (no shuffle beyond the
    final tiny rollup) and the same rows are kept on ANY cluster size or
    partitioning — the property that makes the sample reproducible at
    10^12 docs."""
    # lens via the shared _doc_tf artifact instead of a regex tokenize scan
    d = _docs(spark, sf_dir).select("doc_id", "lang").join(
        _doc_lens(spark, sf_dir), "doc_id"
    )
    keep = (
        F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1))
        % SAMPLE_MOD
        == 0
    )
    return (
        d.withColumn("kept", keep.cast("long"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.sum(F.col("kept") * F.col("len")).alias("tokens_kept"),
        )
        .orderBy("lang")
    )


def q_events_mkl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modified-KL novelty — the reference's MKL onset feature
    (spectral_algorithm.c mkl: Σ log(1 + |s_t| / max(|s_{t-1}|, ε)))."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "event_id", "value", _epoch_ntz("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    d = ev.withColumn("prev", F.lag("value").over(w)).filter(
        F.col("prev").isNotNull()
    )
    term = F.log(
        F.lit(1.0) + F.abs("value") / F.greatest(F.abs("prev"), F.lit(1e-9))
    )
    return (
        d.groupBy("user_id")
        .agg(_e6(F.sum(term)).alias("mkl_e6"), F.count(F.lit(1)).alias("n"))
        .orderBy("user_id")
    )


def q_events_hourly_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Shannon entropy of the hourly activity distribution —
    the reference's energy-entropy features (eef/eer: entropy over sub-window
    energies) with sub-window → hour bucket."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    hourly = ev.groupBy(
        "event_type", F.floor(_epoch_ntz("ts") / 3600).alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    per_type = hourly.groupBy("event_type").agg(
        F.sum("n").alias("L"), F.sum(F.col("n") * F.log("n")).alias("nlogn")
    )
    return per_type.select(
        "event_type",
        _e6(F.log("L") - F.col("nlogn") / F.col("L")).alias("entropy_e6"),
    ).orderBy("event_type")


def q_doc_tf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc max/argmax over the term axis — the reference's per-frame
    max + argmax-frequency (spectral_algorithm.c:855). Reads the shared
    _doc_tf artifact (r6 rotation plan): the tf subtree feeds both the mx
    aggregate and the argmax join side, which previously re-ran the full
    tokenize scan once per branch."""
    tf = _doc_tf(spark, sf_dir).select("doc_id", "term", "tf")
    mx = tf.groupBy("doc_id").agg(
        F.max("tf").alias("max_tf"), F.sum(F.col("tf") * F.col("tf")).alias("sum_tf2")
    )
    return (
        tf.join(mx, "doc_id")
        .filter(F.col("tf") == F.col("max_tf"))
        .groupBy("doc_id", "max_tf", "sum_tf2")
        .agg(F.min("term").alias("top_term"))
        .select("doc_id", "max_tf", "top_term", "sum_tf2")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- oracle SQL


def _minhash_sql() -> str:
    mins = ",\n    ".join(
        f"min(md5(concat('{j} ', shingle))) AS m{j}" for j in range(N_MINHASH)
    )
    concat_cols = ", ".join(f"m{j}" for j in range(N_MINHASH))
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)
SELECT doc_id, md5(concat_ws('|', {concat_cols})) AS minhash_sig
FROM sig ORDER BY doc_id
"""


def _lsh_scored_pairs_cte() -> str:
    """Shared CTE chain (through `scored`) for every LSH-pair-derived oracle:
    signatures (salted md5 min), 4×2 banding, bucket-size cap, exact Jaccard
    on the emitted candidate pairs."""
    mins = ",\n    ".join(
        f"min(md5(concat('{j} ', shingle))) AS m{j}" for j in range(N_MINHASH)
    )
    band_union = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws('|', m{2 * b}, m{2 * b + 1})) AS bucket FROM sig"
        for b in range(N_BANDS)
    )
    return f"""toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
buckets_all AS (
  {band_union}
),
buckets AS (
  SELECT doc_id, band, bucket FROM (
    SELECT doc_id, band, bucket, count(*) OVER (PARTITION BY band, bucket) AS bsz
    FROM buckets_all
  ) WHERE bsz <= {MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS inter
  FROM pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY p.doc_a, p.doc_b
),
scored AS (
  SELECT p.doc_a, p.doc_b,
         CAST(ROUND(coalesce(i.inter, 0) * 1000000.0 /
              (sa.n + sb.n - coalesce(i.inter, 0))) AS BIGINT) AS jaccard_e6
  FROM pairs p
  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
)"""


def _lsh_jaccard_sql(order_clause: str) -> str:
    return f"""
WITH {_lsh_scored_pairs_cte()}
SELECT doc_a, doc_b, jaccard_e6 FROM scored
{order_clause}
"""


DUP_JACCARD_TAU_E6 = 500_000  # verified-dup threshold (corpus is bimodal)


def _hex48_sql(col: str) -> str:
    """DuckDB twin of _hex48: first 12 md5 hex chars as a 48-bit BIGINT."""
    terms = []
    for i in range(1, 13):
        a = f"ascii(substr(md5({col}), {i}, 1))"
        nib = f"(CASE WHEN {a} >= 97 THEN {a} - 87 ELSE {a} - 48 END)::BIGINT"
        terms.append(f"{nib} * {16 ** (12 - i)}" if i < 12 else nib)
    return "(" + "\n      + ".join(terms) + ")"


# bigram-LM CTE chain (through dk + model) — shared by the doc_lm_score
# twin and the ccnet-bucket twin
_LM_NLL_CTES = """toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS t
  FROM documents
),
pos AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM pos GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM pos GROUP BY w1),
model AS (SELECT w1, w2, ln(c12 / c1::DOUBLE) AS logp FROM c12 JOIN c1 USING (w1)),
dk AS (SELECT doc_id, w1, w2, count(*) AS k FROM pos GROUP BY doc_id, w1, w2)"""


def _lsh_canonical_ctes() -> str:
    """CTE chain from scored pairs to the 2-round min-label table `l2` —
    shared by the canonicalization twin and the cluster-stats twin."""
    return f"""{_lsh_scored_pairs_cte()},
edges AS (SELECT doc_a, doc_b FROM scored WHERE jaccard_e6 >= {DUP_JACCARD_TAU_E6}),
und AS (
  SELECT doc_a AS d, doc_b AS n FROM edges
  UNION ALL SELECT doc_b, doc_a FROM edges
),
unds AS (SELECT d, n FROM und UNION ALL SELECT DISTINCT d, d FROM und),
l1 AS (SELECT d, min(n) AS lbl FROM unds GROUP BY d),
l2 AS (
  SELECT u.d, min(l1.lbl) AS canon
  FROM unds u JOIN l1 ON l1.d = u.n
  GROUP BY u.d
)"""


def _lsh_canonical_sql() -> str:
    """Canonicalization twin: verified pairs → undirected edges (+loops) →
    two fixed rounds of min-label propagation → (doc_id, canon_id)."""
    return f"""
WITH {_lsh_canonical_ctes()}
SELECT d AS doc_id, canon AS canon_id,
       CAST(CASE WHEN canon < d THEN 1 ELSE 0 END AS BIGINT) AS is_dup
FROM l2 ORDER BY doc_id
"""


def _lsh_cluster_stats_sql() -> str:
    """Cluster-size histogram twin: sizes of the l2 clusters plus the
    synthesized singleton row (docs in no verified pair)."""
    return f"""
WITH {_lsh_canonical_ctes()},
csz AS (SELECT canon, count(*) AS cluster_size FROM l2 GROUP BY canon),
hist AS (
  SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(sum(cluster_size) AS BIGINT) AS n_docs
  FROM csz GROUP BY cluster_size
),
singles AS (
  SELECT CAST(1 AS BIGINT) AS cluster_size,
         CAST((SELECT count(*) FROM documents) - (SELECT count(*) FROM l2) AS BIGINT) AS n_clusters,
         CAST((SELECT count(*) FROM documents) - (SELECT count(*) FROM l2) AS BIGINT) AS n_docs
)
SELECT * FROM hist UNION ALL SELECT * FROM singles ORDER BY cluster_size
"""


def _phrase_sql(phrase_terms: list[str], k: int) -> str:
    """BM25 over the phrase's terms with FULL-corpus stats (N, avgdl, df),
    candidates restricted to docs containing the exact token sequence
    (space-guarded substring of the space-joined token stream — tokens can't
    contain spaces, so the match is exact at token boundaries)."""
    terms_in = ", ".join(f"'{t}'" for t in phrase_terms)
    phrase = " ".join(phrase_terms)
    return f"""
WITH tok AS ({_TOK_SQL}),
dl AS (SELECT doc_id, count(*)::DOUBLE AS doc_len FROM tok GROUP BY doc_id),
corpus AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
         (SELECT sum(doc_len) FROM dl) / (SELECT count(*) FROM documents) AS avgdl
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ({terms_in}) GROUP BY doc_id, term),
idf AS (SELECT term, ln(1 + ((SELECT n_docs FROM corpus) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
        FROM tf GROUP BY term),
phrase_docs AS (
  -- strpos, not LIKE: tokens may contain '_' (a LIKE single-char wildcard),
  -- which would accept near-miss docs for any phrase term containing it
  SELECT doc_id FROM documents
  WHERE strpos(' ' || array_to_string(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> ''), ' ') || ' ',
               ' {phrase} ') > 0
),
scored AS (
  SELECT tf.doc_id,
         sum(idf.idf * tf.tf * {K1 + 1.0} /
             (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / (SELECT avgdl FROM corpus)))) AS score
  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
  WHERE tf.doc_id IN (SELECT doc_id FROM phrase_docs)
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(ROUND(score * 1000000) AS BIGINT) AS score_e6
FROM scored ORDER BY score DESC, doc_id LIMIT {k}
"""


def _analyzer_sql_expr(name: str) -> str:
    """DuckDB token-LIST expression for one analyzer preset — generated from
    the same AnalyzerConfig the engine uses, so the twins cannot drift."""
    from audioflux_spark.config import ANALYZERS

    cfg = ANALYZERS[name]
    src = "lower(text)" if cfg.lowercase else "text"
    # duckdb regex dialect accepts the same split patterns (\s, char
    # classes); SQL string literals don't escape backslashes, so the
    # pattern is embedded verbatim
    expr = f"list_filter(regexp_split_to_array({src}, '{cfg.split_pattern}'), x -> x <> '')"
    if cfg.stopwords:
        stop_in = ", ".join(f"'{s}'" for s in cfg.stopwords)
        expr = f"list_filter({expr}, x -> x NOT IN ({stop_in}))"
    if cfg.strip_plural_s:
        expr = (
            f"list_transform({expr}, x -> CASE WHEN length(x) > 3 AND x LIKE '%s' "
            f"THEN left(x, length(x) - 1) ELSE x END)"
        )
    if cfg.min_token_len > 1:
        expr = f"list_filter({expr}, x -> length(x) >= {cfg.min_token_len})"
    if cfg.max_token_len:
        expr = f"list_transform({expr}, x -> left(x, {cfg.max_token_len}))"
    return expr


def _analyzer_family_sql() -> str:
    from audioflux_spark.config import ANALYZERS

    branches = "\n  UNION ALL\n  ".join(
        f"SELECT '{name}' AS analyzer, unnest({_analyzer_sql_expr(name)}) AS term FROM documents"
        for name in sorted(ANALYZERS)
    )
    return f"""
WITH allt AS (
  {branches}
)
SELECT analyzer, count(*) AS total_tokens, count(DISTINCT term) AS distinct_terms
FROM allt GROUP BY analyzer ORDER BY analyzer
"""


def _simhash_src(b: int) -> str:
    """SQL for one signed bit contribution (bits 0-31 from md5(term),
    32-63 from md5('simhash2|' || term)) — mirrors _simhash_bands exactly."""
    h = "md5(term)" if b < 32 else "md5('simhash2|' || term)"
    off = b + 1 if b < 32 else b - 31
    return f"CASE WHEN ascii(substr({h}, {off}, 1)) % 2 = 1 THEN 1 ELSE -1 END"


def _simhash_sig_cte() -> str:
    sums = ",\n    ".join(
        f"sum({_simhash_src(b)}) AS s{b}" for b in range(N_SIMHASH_BITS)
    )
    band_exprs = ",\n       ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN s{16 * j + i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(16)
        )
        + f" AS BIGINT) AS sim{j}"
        for j in range(SIMHASH_BANDS)
    )
    return f"""tok AS ({_TOK_SQL}),
agg AS (SELECT doc_id, {sums} FROM tok GROUP BY doc_id),
sig AS (SELECT doc_id,
       {band_exprs}
FROM agg)"""


def _simhash_sql() -> str:
    return f"""
WITH {_simhash_sig_cte()}
SELECT doc_id, sim0, sim1, sim2, sim3 FROM sig ORDER BY doc_id
"""


def _simhash_pairs_sql() -> str:
    band_union = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {j} AS band, sim{j} AS v FROM sig"
        for j in range(SIMHASH_BANDS)
    )
    ham = " + ".join(
        f"bit_count(xor(sa.sim{j}, sb.sim{j}))" for j in range(SIMHASH_BANDS)
    )
    return f"""
WITH {_simhash_sig_cte()},
bands_all AS (
  {band_union}
),
bands AS (
  SELECT doc_id, band, v FROM (
    SELECT doc_id, band, v, count(*) OVER (PARTITION BY band, v) AS bsz
    FROM bands_all
  ) WHERE bsz <= {MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b, CAST({ham} AS BIGINT) AS hamming
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b
WHERE {ham} <= {SIMHASH_HAMMING_MAX}
ORDER BY p.doc_a, p.doc_b
"""


def _cosine_sql(restrict_label: bool) -> str:
    where = "WHERE e.label = (SELECT label FROM embeddings WHERE vec_id = 0)" if restrict_label else ""
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings)
SELECT vec_id,
       CAST(ROUND(list_dot_product(ev, qv) /
            (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv))) * 1000000) AS BIGINT) AS cos_e6
FROM e, q {where}
ORDER BY cos_e6 DESC, vec_id LIMIT 10
"""


ORACLE_SF_DIR = "/root/testdata/sf0.01"  # the driver's correctness tier


def _materialized_oracles() -> dict[str, str]:
    """Referee SQL for the iterative (non-SQL-expressible) operators: run the
    in-repo NumPy kernels single-node over pandas at the correctness tier,
    write the expected rows to parquet, and hand DuckDB a read_parquet query.
    The hash check then verifies the engine's distributed execution against
    the same deterministic math executed without Spark (kernel math itself is
    pytest-verified against planted parameters)."""
    from audioflux_spark import oracle_expected as oe

    out = {}
    for name, fn, order in [
        ("viterbi_states", oe.viterbi_expected, "user_id, event_id"),
        ("nmf_topics", oe.nmf_expected, '"group", row_id'),
        ("hmm_fit", oe.hmm_expected, '"group", state'),
    ]:
        try:
            path = oe.materialize(name, fn(ORACLE_SF_DIR))
            out[name] = f"SELECT * FROM read_parquet('{path}') ORDER BY {order}"
        except Exception:  # noqa: BLE001 — missing tier dir etc.: fall back to rows-only
            pass
    # IVF: only TRAINING+ASSIGNMENT are materialized (shared deterministic
    # routines); DuckDB still performs the probe-pruned cosine search itself
    try:
        assign, probes, cents = oe.ann_assign_expected(
            ORACLE_SF_DIR, ANN_K_CENTROIDS, ANN_NPROBE, ANN_TRAIN_SAMPLE
        )
        path = oe.materialize("ann_ivf_assign", assign)
        cpath = oe.materialize("ann_ivf_centroids", cents)
        probes_in = ", ".join(str(p) for p in probes)
        out["ann_ivf_trained"] = f"""
WITH a AS (SELECT * FROM read_parquet('{path}')),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
e AS (
  SELECT emb.vec_id, emb.embedding::DOUBLE[] AS ev
  FROM embeddings emb JOIN a USING (vec_id)
  WHERE a.bucket IN ({probes_in})
)
SELECT vec_id,
       CAST(ROUND(list_dot_product(ev, qv) /
            (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv))) * 1000000) AS BIGINT) AS cos_e6
FROM e, q ORDER BY cos_e6 DESC, vec_id LIMIT 10
"""
        # near-dup pairs share the SAME materialized assignment: self-join
        # within the trained IVF bucket, mirroring q_dedup_embedding_pairs
        out["dedup_embedding_pairs"] = f"""
WITH a AS (SELECT * FROM read_parquet('{path}')),
e AS (
  SELECT emb.vec_id, a.bucket, emb.embedding::DOUBLE[] AS v
  FROM embeddings emb JOIN a USING (vec_id)
),
p AS (
  SELECT ea.vec_id AS vec_id_a, eb.vec_id AS vec_id_b,
         CAST(ROUND(list_dot_product(ea.v, eb.v) /
              (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
              * 1000000) AS BIGINT) AS cos_e6
  FROM e ea JOIN e eb ON ea.bucket = eb.bucket AND ea.vec_id < eb.vec_id
)
SELECT vec_id_a, vec_id_b, cos_e6 FROM p
WHERE cos_e6 >= {int(EMB_NEAR_DUP_TAU * 1e6)}
ORDER BY vec_id_a, vec_id_b
"""
        # SemDeDup twin: the SAME assignment + pair CTEs, centroid cosines
        # from the materialized centroid table, greedy keep rule = "dropped
        # iff an earlier member in (cent_cos_e6, vec_id) order is within τ"
        # — one EXISTS-style anti-join, integer-compared in both engines
        out["dedup_semdedup"] = f"""
WITH a AS (SELECT * FROM read_parquet('{path}')),
c AS (SELECT * FROM read_parquet('{cpath}')),
e AS (
  SELECT emb.vec_id, a.bucket, emb.embedding::DOUBLE[] AS v
  FROM embeddings emb JOIN a USING (vec_id)
),
p AS (
  SELECT ea.vec_id AS va, eb.vec_id AS vb
  FROM e ea JOIN e eb ON ea.bucket = eb.bucket AND ea.vec_id < eb.vec_id
  WHERE CAST(ROUND(list_dot_product(ea.v, eb.v) /
        (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
        * 1000000) AS BIGINT) >= {int(EMB_NEAR_DUP_TAU * 1e6)}
),
sym AS (SELECT va AS x, vb AS y FROM p UNION ALL SELECT vb AS x, va AS y FROM p),
cc AS (
  SELECT e.vec_id, CAST(e.bucket AS BIGINT) AS bucket,
         CAST(ROUND(list_dot_product(e.v, c.centroid) /
              (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.centroid, c.centroid)))
              * 1000000) AS BIGINT) AS cent_cos_e6
  FROM e JOIN c USING (bucket)
),
drp AS (
  SELECT DISTINCT s.x AS vec_id
  FROM sym s
  JOIN cc cx ON s.x = cx.vec_id
  JOIN cc cy ON s.y = cy.vec_id
  WHERE cy.cent_cos_e6 < cx.cent_cos_e6
     OR (cy.cent_cos_e6 = cx.cent_cos_e6 AND s.y < s.x)
),
mem AS (SELECT DISTINCT x AS vec_id FROM sym)
SELECT m.vec_id, cc.bucket, cc.cent_cos_e6,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM mem m JOIN cc ON m.vec_id = cc.vec_id
LEFT JOIN drp d ON d.vec_id = m.vec_id
ORDER BY m.vec_id
"""
    except Exception:  # noqa: BLE001
        pass
    return out


# shared frame-phase CTE prefix for the phase-domain oracles (twins
# _frame_bin1: ~8 frames per event type, one DFT atom per frame at one
# cycle/frame, re/im e6-rounded BEFORE any phase math)
_PHASE_FRAME_SQL = f"""
WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),
hourly AS (SELECT event_type, h, count(*)::DOUBLE AS x FROM e GROUP BY event_type, h),
idx AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY h) - 1 AS i
  FROM hourly
),
tot AS (SELECT event_type, count(*) AS N FROM hourly GROUP BY event_type),
fr1 AS (
  SELECT idx.event_type, x,
         greatest((N + {_PHASE_FRAMES} - 1) // {_PHASE_FRAMES}, 3) AS L, i
  FROM idx JOIN tot USING (event_type)
),
fr2 AS (SELECT event_type, x, L, i // L AS frame, i % L AS r FROM fr1),
fr AS (
  SELECT event_type, frame,
         CAST(ROUND(sum(x * cos(2 * pi() * r / L)) * 1000000) AS BIGINT) AS re_e6,
         CAST(ROUND(sum(x * sin(2 * pi() * r / L)) * 1000000) AS BIGINT) AS im_e6
  FROM fr2 GROUP BY event_type, frame
),
ph AS (
  SELECT event_type, frame,
         re_e6::DOUBLE / 1000000 AS re, im_e6::DOUBLE / 1000000 AS im,
         atan2(im_e6::DOUBLE / 1000000, re_e6::DOUBLE / 1000000) AS phi,
         sqrt((re_e6::DOUBLE / 1000000) * (re_e6::DOUBLE / 1000000)
              + (im_e6::DOUBLE / 1000000) * (im_e6::DOUBLE / 1000000)) AS mag
  FROM fr
),
"""

# Phase-vocoder step table shared by the timestretch/pitchshift oracles —
# the SQL twin of _vocoder_steps (see its docstring for the semantics and
# the integer-cumsum determinism rule). Continues _PHASE_FRAME_SQL's CTEs.
_VOCODER_SQL = """
led AS (
  SELECT event_type, frame, mag, phi,
         coalesce(lead(phi) OVER w, 0.0) AS phi_n,
         coalesce(lead(mag) OVER w, 0.0) AS mag_n,
         first_value(CAST(ROUND(phi * 1000000) AS BIGINT)) OVER w2 AS phi0_e6
  FROM ph
  WINDOW w AS (PARTITION BY event_type ORDER BY frame),
         w2 AS (PARTITION BY event_type ORDER BY frame ROWS UNBOUNDED PRECEDING)
),
inc AS (
  SELECT *,
         CAST(ROUND((2 * pi() + (phi_n - phi - 2 * pi())
              - 2 * pi() * floor((phi_n - phi - 2 * pi()) / (2 * pi()) + 0.5))
              * 1000000) AS BIGINT) AS inc_e6
  FROM led
),
steps AS (
  SELECT event_type, 2 * frame + s AS step, phi0_e6, inc_e6,
         CASE WHEN s = 0 THEN mag ELSE 0.5 * (mag + mag_n) END AS mag_out
  FROM inc CROSS JOIN (SELECT 0 AS s UNION ALL SELECT 1) ss
),
cum AS (
  SELECT event_type, step, mag_out,
         (phi0_e6 + coalesce(CAST(sum(inc_e6) OVER (
              PARTITION BY event_type ORDER BY step
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         )::DOUBLE / 1000000 AS psi
  FROM steps
)
"""


def oracle_sql() -> dict[str, str]:
    import math

    stop_in = ", ".join(f"'{s}'" for s in STOPWORDS)
    return {
        **_materialized_oracles(),
        "bm25_topk_hot": _bm25_sql(["join", "hash", "row"], 20),
        # generations / compaction must be indistinguishable from a one-shot
        # build — SAME oracle as the one-shot query
        "bm25_topk_incremental": _bm25_sql(["join", "hash", "row"], 20),
        "bm25_topk_compacted": _bm25_sql(["join", "hash", "row"], 20),
        "bm25_topk_rare": _bm25_sql(["dup", "the"], 25),
        "bm25_topk_exhaustive": _bm25_sql(["dup", "window"], 15),
        "bm25_topk_conjunctive": _bm25_sql(["dup", "window"], 15, conjunctive=True),
        "bm25_topk_lang_filtered": _bm25_sql(["join", "hash"], 15, where="lang = 'en'"),
        "bm25_topk_phrase": _phrase_sql(["table", "window"], 15),
        "term_doc_freqs": f"""
WITH tok AS ({_TOK_SQL})
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS total_tf
FROM tok GROUP BY term ORDER BY term
""",
        "doc_lengths": f"""
WITH tok AS ({_TOK_SQL}),
c AS (SELECT doc_id, count(*) AS c FROM tok GROUP BY doc_id)
SELECT d.doc_id, coalesce(c.c, 0)::BIGINT AS doc_len
FROM documents d LEFT JOIN c USING (doc_id) ORDER BY d.doc_id
""",
        "corpus_stats": f"""
WITH tok AS ({_TOK_SQL})
SELECT (SELECT count(*) FROM documents) AS n_docs,
       count(*) AS total_tokens,
       count(DISTINCT term) AS distinct_terms,
       CAST(ROUND(count(*)::DOUBLE / (SELECT count(*) FROM documents) * 1000000) AS BIGINT) AS avgdl_e6
FROM tok
""",
        "top_docs_by_len": f"""
WITH tok AS ({_TOK_SQL}),
c AS (SELECT doc_id, count(*) AS c FROM tok GROUP BY doc_id)
SELECT d.doc_id, coalesce(c.c, 0)::BIGINT AS doc_len
FROM documents d LEFT JOIN c USING (doc_id)
ORDER BY doc_len DESC, d.doc_id LIMIT 20
""",
        "text_quality": f"""
WITH tok AS ({_TOK_SQL}),
agg AS (
  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT term) AS n_types,
         CAST(sum(CASE WHEN term IN ({stop_in}) THEN 1 ELSE 0 END) AS BIGINT) AS stop_tokens
  FROM tok GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types,
       CAST(ROUND(n_types::DOUBLE / n_tokens * 1000000) AS BIGINT) AS ttr_e6,
       CAST(ROUND(stop_tokens::DOUBLE / n_tokens * 1000000) AS BIGINT) AS stop_ratio_e6
FROM agg ORDER BY doc_id
""",
        "lang_id": f"""
WITH tok AS ({_TOK_SQL})
SELECT doc_id,
       CAST(sum(CASE WHEN term IN ({stop_in}) THEN 1 ELSE 0 END) AS BIGINT) AS en_hits,
       CASE WHEN sum(CASE WHEN term IN ({stop_in}) THEN 1 ELSE 0 END) >= 1
            THEN 'en' ELSE 'unk' END AS predicted
FROM tok GROUP BY doc_id ORDER BY doc_id
""",
        "token_fingerprint": f"""
WITH tok AS (SELECT DISTINCT doc_id, term FROM ({_TOK_SQL}))
SELECT doc_id, md5(string_agg(term, ' ' ORDER BY term)) AS fingerprint
FROM tok GROUP BY doc_id ORDER BY doc_id
""",
        "doc_dup_spans": f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS t
  FROM documents
),
win AS (
  SELECT doc_id, md5(array_to_string(list_slice(t, i, i + {DUP_SPAN_W} - 1), ' ')) AS wkey
  FROM toks, unnest(generate_series(1, len(t) - {DUP_SPAN_W} + 1)) AS u(i)
  WHERE len(t) >= {DUP_SPAN_W}
),
wd AS (SELECT doc_id, wkey, count(*) AS occ FROM win GROUP BY doc_id, wkey),
nd AS (SELECT wkey, count(*) AS nd FROM wd GROUP BY wkey)
SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN nd > 1 THEN occ ELSE 0 END) AS BIGINT) AS dup_windows,
       CAST(ROUND(sum(CASE WHEN nd > 1 THEN occ ELSE 0 END) / sum(occ)::DOUBLE * 1000000) AS BIGINT) AS dup_frac_e6
FROM wd JOIN nd USING (wkey) GROUP BY doc_id ORDER BY doc_id
""",
        "doc_repetition": """
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS t
  FROM documents
),
bgc AS (
  SELECT doc_id, len(t) AS n_tokens, array_to_string(list_slice(t, i, i + 1), ' ') AS g, count(*) AS c
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2 GROUP BY doc_id, len(t), g
),
bg AS (SELECT doc_id, n_tokens, max(c) AS max2 FROM bgc GROUP BY doc_id, n_tokens),
tgc AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS g, count(*) AS c
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3 GROUP BY doc_id, g
),
tg AS (
  SELECT doc_id, sum(c) AS n3, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup3
  FROM tgc GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(ROUND(max2 * 2 / n_tokens::DOUBLE * 1000000) AS BIGINT) AS top2_cov_e6,
       CAST(ROUND(dup3 / n3::DOUBLE * 1000000) AS BIGINT) AS dup3_frac_e6
FROM bg JOIN tg USING (doc_id) ORDER BY doc_id
""",
        "doc_lm_score": f"""
WITH {_LM_NLL_CTES}
SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
       CAST(ROUND(-sum(k * logp) / sum(k) * 1000000) AS BIGINT) AS nll_e6
FROM dk JOIN model USING (w1, w2) GROUP BY doc_id ORDER BY doc_id
""",
        "doc_ccnet_bucket": f"""
WITH {_LM_NLL_CTES},
nll AS (
  SELECT doc_id, CAST(ROUND(-sum(k * logp) / sum(k) * 1000000) AS BIGINT) AS nll_e6
  FROM dk JOIN model USING (w1, w2) GROUP BY doc_id
),
ranked AS (
  SELECT d.lang, nll.nll_e6,
         row_number() OVER (PARTITION BY d.lang ORDER BY nll.nll_e6, nll.doc_id) AS rn,
         count(*) OVER (PARTITION BY d.lang) AS cnt
  FROM nll JOIN documents d USING (doc_id)
),
tiled AS (SELECT lang, nll_e6, ((rn - 1) * {CCNET_TILES}) // cnt AS tile FROM ranked)
SELECT lang,
       CASE WHEN tile = 0 THEN 'head' WHEN tile = 1 THEN 'middle' ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nll_e6) // count(*) AS BIGINT) AS mean_nll_e6,
       CAST(max(nll_e6) AS BIGINT) AS max_nll_e6
FROM tiled GROUP BY lang, bucket ORDER BY lang, bucket
""",
        "corpus_kmv_sketch": f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS t
  FROM documents
),
st AS (
  SELECT DISTINCT source, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
h AS (SELECT source, shingle, {_hex48_sql("shingle")} AS h48 FROM st),
r AS (
  SELECT source, h48,
         row_number() OVER (PARTITION BY source ORDER BY h48, shingle) AS rn,
         count(*) OVER (PARTITION BY source) AS cnt
  FROM h
),
agg AS (
  SELECT source,
         CAST(sum(CASE WHEN rn <= {KMV_K} THEN 1 ELSE 0 END) AS BIGINT) AS k_used,
         max(CASE WHEN rn <= {KMV_K} THEN h48 END) AS hk,
         CAST(max(cnt) AS BIGINT) AS exact_distinct
  FROM r GROUP BY source
),
est AS (
  SELECT source, k_used, exact_distinct,
         CAST(CASE WHEN k_used < {KMV_K} THEN exact_distinct
              ELSE {(KMV_K - 1) * 2**48} // hk END AS BIGINT) AS kmv_est
  FROM agg
)
SELECT source, k_used, exact_distinct, kmv_est,
       CAST(abs(kmv_est - exact_distinct) * 1000000 // exact_distinct AS BIGINT) AS err_ppm
FROM est ORDER BY source
""",
        "doc_dsir_weights": f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS t
  FROM documents
),
uni AS (
  SELECT doc_id, lang, 'u:' || u AS f
  FROM (SELECT doc_id, lang, unnest(t) AS u FROM toks)
),
big AS (
  SELECT doc_id, lang, 'b:' || t[i] || ' ' || t[i + 1] AS f
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS s(i)
  WHERE len(t) >= 2
),
feats AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
fb AS (
  SELECT doc_id, lang,
         (ascii(substr(md5(f), 1, 1)) * 256
          + ascii(substr(md5(f), 2, 1)) * 16
          + ascii(substr(md5(f), 3, 1))) % {DSIR_B} AS b
  FROM feats
),
raw AS (SELECT b, count(*) AS cr FROM fb GROUP BY b),
tgt AS (SELECT b, count(*) AS ct FROM fb WHERE lang = {DSIR_TARGET_LANG!r} GROUP BY b),
counts AS (SELECT b, cr, coalesce(ct, 0) AS ct FROM raw LEFT JOIN tgt USING (b)),
tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM counts),
model AS (
  SELECT b,
         CAST(ROUND(ln(((ct + 1) * (tr + {DSIR_B}))::DOUBLE
                       / ((cr + 1) * (tt + {DSIR_B}))::DOUBLE) * 1000000) AS BIGINT) AS llr_e6
  FROM counts, tot
),
dk AS (SELECT doc_id, b, count(*) AS k FROM fb GROUP BY doc_id, b)
SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_feats,
       CAST(sum(k * llr_e6) AS BIGINT) AS dsir_logw_e6
FROM dk JOIN model USING (b) GROUP BY doc_id ORDER BY doc_id
""",
        "doc_blocklist": f"""
WITH tok AS ({_TOK_SQL}),
agg AS (
  SELECT doc_id, count(*) AS n_tokens,
         sum(CASE WHEN term IN ({", ".join(repr(t) for t in BLOCKLIST)})
                  THEN 1 ELSE 0 END) AS block_hits
  FROM tok GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(block_hits AS BIGINT) AS block_hits,
       CAST(CASE WHEN block_hits = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM agg ORDER BY doc_id
""",
        "doc_source_mix": f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         sum(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                             x -> x <> ''))) AS n_tokens
  FROM documents GROUP BY source
),
pa AS (
  SELECT source, n_docs, n_tokens,
         CAST(ROUND(pow(n_tokens::DOUBLE, {MIX_ALPHA}) * 1000000) AS BIGINT) AS pa_e6
  FROM per
),
tot AS (SELECT sum(n_tokens) AS tot, sum(pa_e6) AS tot_pa FROM pa)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(ROUND(n_tokens::DOUBLE / tot * 1000000) AS BIGINT) AS p_e6,
       CAST(ROUND(pa_e6::DOUBLE / tot_pa * 1000000) AS BIGINT) AS w_e6
FROM pa, tot ORDER BY source
""",
        "events_tune_track": "\n".join(
            ["WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),",
             "hourly AS (SELECT event_type, h, count(*)::BIGINT AS x FROM e GROUP BY event_type, h),",
             "d AS (SELECT event_type, h // 24 AS day, h, x FROM hourly),",
             "leads AS (",
             "  SELECT event_type, day, x,"]
            + [
                f"         lead(x, {o}) OVER w AS l{o},"
                for o in range(1, _TUNE_TAUS[-1] + 2)
            ]
            + ["         1 AS _d",
               "  FROM d WINDOW w AS (PARTITION BY event_type, day ORDER BY h)",
               "),",
               "per AS (",
               "  SELECT event_type, day,"]
            + [
                f"         sum(CASE WHEN l{t} IS NOT NULL THEN x * l{t} END) AS s{t},\n"
                f"         sum(CASE WHEN l{t} IS NOT NULL THEN 1 ELSE 0 END) AS n{t},"
                for t in range(1, _TUNE_TAUS[-1] + 2)
            ]
            + ["         1 AS _d2",
               "  FROM leads GROUP BY event_type, day",
               "),",
               "cands AS (",
               "  "
               + " UNION ALL ".join(
                   f"SELECT event_type, day, {t} AS tau,"
                   f" CASE WHEN n{t} > 0 THEN CAST(ROUND(s{t}::DOUBLE / n{t} * 1000000) AS BIGINT) END AS m,"
                   f" CASE WHEN n{t-1} > 0 THEN CAST(ROUND(s{t-1}::DOUBLE / n{t-1} * 1000000) AS BIGINT) END AS mlo,"
                   f" CASE WHEN n{t+1} > 0 THEN CAST(ROUND(s{t+1}::DOUBLE / n{t+1} * 1000000) AS BIGINT) END AS mhi,"
                   f" n{t} AS n_support FROM per"
                   for t in _TUNE_TAUS
               ),
               "),",
               "ranked AS (",
               "  SELECT *, row_number() OVER (PARTITION BY event_type, day",
               "                               ORDER BY m DESC, tau) AS rn",
               "  FROM cands WHERE m IS NOT NULL",
               "),",
               "refined AS (",
               "  SELECT event_type, day, tau, n_support,",
               "         CASE WHEN mlo IS NOT NULL AND mhi IS NOT NULL",
               "                   AND (mlo - 2 * m + mhi) <> 0",
               "              THEN greatest(-0.5, least(0.5,",
               "                   (mlo - mhi)::DOUBLE / (2.0 * (mlo - 2 * m + mhi)::DOUBLE)))",
               "              ELSE 0.0 END AS delta",
               "  FROM ranked WHERE rn = 1",
               ")",
               "SELECT event_type, CAST(day AS BIGINT) AS day,",
               "       CAST(tau AS BIGINT) AS pitch_lag,",
               "       CAST(ROUND((tau + delta) * 1000000) AS BIGINT) AS tau_hat_e6,",
               "       CAST(ROUND(1200.0 * log2(1.0 + delta / tau) * 1000000) AS BIGINT) AS cents_e6,",
               "       CAST(n_support AS BIGINT) AS n_support",
               "FROM refined ORDER BY event_type, day"]
        ),
        "dedup_decontaminate": f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
capped AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS ndocs FROM sh
  ) WHERE ndocs <= {DECON_MAX_SHINGLE}
),
ev AS (SELECT doc_id AS eval_doc, shingle FROM capped WHERE doc_id % {DECON_EVAL_MOD} = 0),
tr AS (SELECT doc_id AS train_doc, shingle FROM capped WHERE doc_id % {DECON_EVAL_MOD} <> 0),
pair AS (
  SELECT eval_doc, train_doc, count(*) AS shared
  FROM ev JOIN tr USING (shingle) GROUP BY eval_doc, train_doc
)
SELECT eval_doc, count(*) AS n_train_hits,
       CAST(max(shared) AS BIGINT) AS max_shared,
       CAST(sum(shared) AS BIGINT) AS total_shared
FROM pair GROUP BY eval_doc ORDER BY eval_doc
""",
        "dedup_exact": """
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text) ORDER BY text_hash
""",
        "dedup_shingle_jaccard": _lsh_jaccard_sql(
            "ORDER BY 3 DESC, 1, 2 LIMIT 50"  # positional: (jaccard_e6, doc_a, doc_b)
        ),
        "dedup_lsh_pairs": _lsh_jaccard_sql("ORDER BY 1, 2"),
        "dedup_canonical": _lsh_canonical_sql(),
        "dedup_cluster_stats": _lsh_cluster_stats_sql(),
        "dedup_minhash": _minhash_sql(),
        "dedup_simhash": _simhash_sql(),
        "dedup_simhash_pairs": _simhash_pairs_sql(),
        "ann_topk_cosine": _cosine_sql(False),
        "ann_ivf_label": _cosine_sql(True),
        "embedding_norms": """
SELECT vec_id,
       CAST(ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * 1000000) AS BIGINT) AS norm_e6
FROM embeddings ORDER BY vec_id
""",
        "events_hourly": """
SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
       count(*) AS n, CAST(ROUND(sum(value) * 1000000) AS BIGINT) AS sum_value_e6
FROM events GROUP BY event_type, hour ORDER BY event_type, hour
""",
        "events_user_topk": """
SELECT user_id, count(*) AS n FROM events
GROUP BY user_id ORDER BY n DESC, user_id LIMIT 20
""",
        "events_sessionize": """
WITH e AS (SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS t FROM events),
g AS (
  SELECT user_id,
         CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
                OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM e
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM g GROUP BY user_id ORDER BY user_id
""",
        "events_xcorr": """
WITH hourly AS (
  SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h, sum(value) AS v
  FROM events GROUP BY event_type, h
),
a AS (SELECT h, v AS va FROM hourly WHERE event_type = 'click'),
b AS (SELECT h, v AS vb FROM hourly WHERE event_type = 'view'),
lags AS (SELECT unnest(generate_series(0, 5))::INT AS lag)
SELECT lag, CAST(ROUND(sum(va * vb) * 1000000) AS BIGINT) AS xcorr_e6,
       count(*) AS n_pairs
FROM a CROSS JOIN lags JOIN b ON a.h + lag = b.h
GROUP BY lag ORDER BY lag
""",
        "events_delta_regression": """
WITH e AS (SELECT user_id, event_id, value, floor(epoch(ts))::BIGINT AS t FROM events),
win AS (
  SELECT event_id,
         (-2.0 * coalesce(lag(value, 2)  OVER w, 0)
          - 1.0 * coalesce(lag(value, 1)  OVER w, 0)
          + 1.0 * coalesce(lead(value, 1) OVER w, 0)
          + 2.0 * coalesce(lead(value, 2) OVER w, 0)) AS num,
         ((CASE WHEN lag(value, 2)  OVER w IS NOT NULL THEN 4 ELSE 0 END)
          + (CASE WHEN lag(value, 1)  OVER w IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN lead(value, 1) OVER w IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN lead(value, 2) OVER w IS NOT NULL THEN 4 ELSE 0 END)) AS cnt
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
)
SELECT event_id,
       CAST(ROUND(num / (CASE WHEN cnt > 0 THEN cnt END) * 1000000) AS BIGINT) AS slope_e6
FROM win ORDER BY event_id
""",
        "events_value_zscore": """
SELECT event_id, event_type,
       CAST(ROUND((value - avg(value) OVER (PARTITION BY event_type))
            / stddev_pop(value) OVER (PARTITION BY event_type) * 1000000) AS BIGINT) AS z_e6
FROM events ORDER BY event_id
""",
        "events_sliding_max": """
WITH e AS (SELECT user_id, event_id, value, floor(epoch(ts))::BIGINT AS t FROM events)
SELECT event_id,
       CAST(ROUND(max(value) OVER (PARTITION BY user_id ORDER BY t, event_id
            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) * 1000000) AS BIGINT) AS max5_e6
FROM e ORDER BY event_id
""",
        "events_delta_stats": """
WITH e AS (SELECT user_id, event_id, value, floor(epoch(ts))::BIGINT AS t FROM events),
d AS (
  SELECT user_id,
         value - lag(value) OVER (PARTITION BY user_id ORDER BY t, event_id) AS delta
  FROM e
)
SELECT user_id,
       CAST(ROUND(sum(abs(delta)) * 1000000) AS BIGINT) AS flux_e6,
       CAST(ROUND(max(delta) * 1000000) AS BIGINT) AS max_delta_e6,
       count(*) AS n_deltas
FROM d WHERE delta IS NOT NULL GROUP BY user_id ORDER BY user_id
""",
        "source_novelty": f"""
WITH tok AS (SELECT DISTINCT doc_id, term FROM ({_TOK_SQL})),
sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
seq AS (
  SELECT source, doc_id,
         lag(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS prev_id
  FROM documents
),
seq2 AS (SELECT * FROM seq WHERE prev_id IS NOT NULL),
inter AS (
  SELECT s.source, s.doc_id, s.prev_id, count(*) AS inter
  FROM seq2 s
  JOIN tok a ON a.doc_id = s.doc_id
  JOIN tok b ON b.doc_id = s.prev_id AND b.term = a.term
  GROUP BY s.source, s.doc_id, s.prev_id
)
SELECT s.source, s.doc_id,
       CAST(ROUND((1.0 - coalesce(i.inter, 0)::DOUBLE /
            (sa.n + sb.n - coalesce(i.inter, 0))) * 1000000) AS BIGINT) AS novelty_e6
FROM seq2 s
LEFT JOIN inter i ON i.doc_id = s.doc_id AND i.prev_id = s.prev_id
JOIN sizes sa ON sa.doc_id = s.doc_id
JOIN sizes sb ON sb.doc_id = s.prev_id
ORDER BY s.doc_id
""",
        "lineitem_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(sum(l_quantity) * 1000000) AS BIGINT) AS sum_qty_e6,
       CAST(ROUND(sum(l_extendedprice) * 1000000) AS BIGINT) AS sum_base_e6,
       CAST(ROUND(sum(l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT) AS sum_disc_e6,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2026-06-01 00:00:00'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
""",
        "term_entropy": f"""
WITH tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, term),
per_doc AS (SELECT doc_id, sum(tf) AS L, sum(tf * ln(tf)) AS tlogt FROM tf GROUP BY doc_id)
SELECT doc_id, CAST(ROUND((ln(L) - tlogt / L) * 1000000) AS BIGINT) AS entropy_e6
FROM per_doc ORDER BY doc_id
""",
        "doc_tf_moments": f"""
WITH tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS w FROM tok GROUP BY doc_id, term),
raw AS (
  SELECT doc_id,
         sum(w) AS s0,
         sum(w * length(term)) AS s1,
         sum(w * length(term) * length(term)) AS s2,
         sum(w * length(term) * length(term) * length(term)) AS s3,
         sum(w * length(term) * length(term) * length(term) * length(term)) AS s4
  FROM tf GROUP BY doc_id
),
cm AS (
  SELECT doc_id, s1 / s0 AS c, s2 / s0 - (s1 / s0) * (s1 / s0) AS var,
         s0, s1, s2, s3, s4
  FROM raw
)
SELECT doc_id,
       CAST(ROUND(c * 1000000) AS BIGINT) AS centroid_e6,
       CAST(ROUND(sqrt(var) * 1000000) AS BIGINT) AS spread_e6,
       CAST(ROUND((CASE WHEN var > 1e-12
            THEN (s3 / s0 - 3 * c * s2 / s0 + 2 * c * c * c) / (sqrt(var) * var)
            ELSE 0 END) * 1000000) AS BIGINT) AS skew_e6,
       CAST(ROUND((CASE WHEN var > 1e-12
            THEN (s4 / s0 - 4 * c * s3 / s0 + 6 * c * c * s2 / s0 - 3 * c * c * c * c) / (var * var)
            ELSE 0 END) * 1000000) AS BIGINT) AS kurt_e6
FROM cm ORDER BY doc_id
""",
        "analyzer_family": _analyzer_family_sql(),
        "ngram_multires": """
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS t
  FROM documents
),
g AS (
  SELECT 1 AS n, unnest(t) AS gram FROM toks WHERE len(t) >= 1
  UNION ALL
  SELECT 2, array_to_string(list_slice(t, i, i + 1), ' ')
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i) WHERE len(t) >= 2
  UNION ALL
  SELECT 3, array_to_string(list_slice(t, i, i + 2), ' ')
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i) WHERE len(t) >= 3
)
SELECT n, count(*) AS total, count(DISTINCT gram) AS distinct_grams
FROM g GROUP BY n ORDER BY n
""",
        "events_rollup_pyramid": """
WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT AS t FROM events),
lv AS (
  SELECT event_type, 'day' AS level, t // 86400 AS b FROM e
  UNION ALL SELECT event_type, 'hour', t // 3600 FROM e
  UNION ALL SELECT event_type, 'min10', t // 600 FROM e
),
bk AS (SELECT event_type, level, b, count(*) AS n FROM lv GROUP BY event_type, level, b)
SELECT event_type, level, count(*) AS n_buckets, max(n) AS max_bucket
FROM bk GROUP BY event_type, level ORDER BY event_type, level
""",
        "doc_tf_shape": f"""
WITH tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS w FROM tok GROUP BY doc_id, term),
ranked AS (
  SELECT doc_id, w,
         row_number() OVER (PARTITION BY doc_id ORDER BY term) AS k,
         first_value(w) OVER (PARTITION BY doc_id ORDER BY term) AS w1
  FROM tf
),
agg AS (
  SELECT doc_id,
         exp(avg(ln(w))) AS geo, avg(w) AS arith, max(w) AS mx,
         sum(k * w) AS hfc,
         sum(CASE WHEN k >= 2 THEN (w - w1) / (k - 1) END) AS dec_num,
         sum(CASE WHEN k >= 2 THEN w END) AS dec_den
  FROM ranked GROUP BY doc_id
)
SELECT doc_id,
       CAST(ROUND(geo / arith * 1000000) AS BIGINT) AS flatness_e6,
       CAST(ROUND(mx / arith * 1000000) AS BIGINT) AS crest_e6,
       CAST(ROUND(hfc * 1000000) AS BIGINT) AS hfc_e6,
       CAST(ROUND(coalesce(dec_num / dec_den, 0) * 1000000) AS BIGINT) AS decrease_e6
FROM agg ORDER BY doc_id
""",
        "events_resample": """
WITH e AS (SELECT user_id, event_id, value, floor(epoch(ts))::BIGINT AS t FROM events),
rng AS (SELECT user_id, min(t) AS mn, max(t) AS mx FROM e GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(generate_series((mn + 1799) // 1800 * 1800, mx // 1800 * 1800, 1800)) AS t
  FROM rng WHERE (mn + 1799) // 1800 <= mx // 1800
),
pts AS (
  SELECT user_id, t, value, event_id, 0 AS src FROM e
  UNION ALL
  SELECT user_id, t, NULL::DOUBLE AS value, NULL::BIGINT AS event_id, 1 AS src FROM grid
),
held AS (
  SELECT user_id, t, src,
         last_value(value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t, src, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS held
  FROM pts
)
SELECT user_id, t AS grid_t, CAST(ROUND(held * 1000000) AS BIGINT) AS value_e6
FROM held WHERE src = 1 ORDER BY user_id, grid_t
""",
        "events_fir": """
WITH e AS (SELECT user_id, event_id, value, floor(epoch(ts))::BIGINT AS t FROM events),
y AS (
  SELECT event_id,
         (1.0/9) * lag(value, 0) OVER w + (2.0/9) * lag(value, 1) OVER w
       + (3.0/9) * lag(value, 2) OVER w + (2.0/9) * lag(value, 3) OVER w
       + (1.0/9) * lag(value, 4) OVER w AS y
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
)
SELECT event_id, CAST(ROUND(y * 1000000) AS BIGINT) AS fir_e6
FROM y WHERE y IS NOT NULL ORDER BY event_id
""",
        "events_dct": """
WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),
hourly AS (SELECT event_type, h, count(*)::DOUBLE AS x FROM e GROUP BY event_type, h),
idx AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY h) - 1 AS i
  FROM hourly
),
tot AS (SELECT event_type, count(*) AS N FROM hourly GROUP BY event_type)
SELECT idx.event_type,
       CAST(ROUND(sum(x * cos(pi() / N * (i + 0.5) * 0)) * 1000000) AS BIGINT) AS c0_e6,
       CAST(ROUND(sum(x * cos(pi() / N * (i + 0.5) * 1)) * 1000000) AS BIGINT) AS c1_e6,
       CAST(ROUND(sum(x * cos(pi() / N * (i + 0.5) * 2)) * 1000000) AS BIGINT) AS c2_e6,
       CAST(ROUND(sum(x * cos(pi() / N * (i + 0.5) * 3)) * 1000000) AS BIGINT) AS c3_e6
FROM idx JOIN tot USING (event_type)
GROUP BY idx.event_type ORDER BY idx.event_type
""",
        "doc_tristimulus": f"""
WITH tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS s FROM tok GROUP BY doc_id, term),
ranked AS (
  SELECT doc_id, s,
         row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term) AS r
  FROM tf
),
agg AS (
  SELECT doc_id,
         sum(s) AS tot,
         sum(CASE WHEN r = 1 THEN s ELSE 0.0 END) AS s1,
         sum(CASE WHEN r BETWEEN 2 AND 4 THEN s ELSE 0.0 END) AS s24
  FROM ranked GROUP BY doc_id
)
SELECT doc_id,
       CAST(ROUND(s1 / tot * 1000000) AS BIGINT) AS t1_e6,
       CAST(ROUND(s24 / tot * 1000000) AS BIGINT) AS t2_e6,
       CAST(ROUND((tot - s1 - s24) / tot * 1000000) AS BIGINT) AS t3_e6
FROM agg ORDER BY doc_id
""",
        "events_reassign": """
WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT AS t FROM events),
buckets AS (
  SELECT event_type, t // 3600 AS h, count(*) AS n,
         CAST(floor(sum(t) / count(*) / 3600) AS BIGINT) AS r
  FROM e GROUP BY event_type, t // 3600
)
SELECT event_type, r,
       CAST(sum(n) AS BIGINT) AS mass,
       CAST(sum(CASE WHEN r <> h THEN 1 ELSE 0 END) AS BIGINT) AS moved_bins
FROM buckets GROUP BY event_type, r ORDER BY event_type, r
""",
        "events_scalogram": "\n".join(
            ["WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),",
             "hourly AS (SELECT event_type, h, count(*)::DOUBLE AS x FROM e GROUP BY event_type, h),",
             "resp AS (",
             "  SELECT event_type,"]
            + [
                "         "
                + " + ".join(
                    f"{1.0 - abs(j) / (s + 1.0)!r} * "
                    + (f"lag(x, {j}) OVER w" if j >= 0 else f"lead(x, {-j}) OVER w")
                    for j in range(-s, s + 1)
                )
                + f" AS y{s},"
                for s in _SCALOGRAM_SCALES
            ]
            + ["         1 AS _d",
               "  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)",
               "),",
               "stacked AS (",
               "  "
               + " UNION ALL ".join(
                   f"SELECT event_type, {s} AS scale, y{s} AS y FROM resp WHERE y{s} IS NOT NULL"
                   for s in _SCALOGRAM_SCALES
               ),
               ")",
               "SELECT event_type, CAST(scale AS BIGINT) AS scale,",
               "       CAST(ROUND(sum(y * y) * 1000000) AS BIGINT) AS energy_e6,",
               "       count(*) AS n_frames",
               "FROM stacked GROUP BY event_type, scale ORDER BY event_type, scale"]
        ),
        "events_synsq": "\n".join(
            ["WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),",
             "hourly AS (SELECT event_type, h, count(*)::BIGINT AS x FROM e GROUP BY event_type, h),",
             "resp AS (",
             "  SELECT event_type, h,"]
            + [
                "         "
                + " + ".join(
                    f"{s + 1 - abs(j)} * "
                    + (f"lag(x, {j}) OVER w" if j >= 0 else f"lead(x, {-j}) OVER w")
                    for j in range(-s, s + 1)
                )
                + f" AS y{s},"
                for s in _SCALOGRAM_SCALES
            ]
            + ["         1 AS _d",
               "  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)",
               "),",
               "stacked AS (",
               "  "
               + " UNION ALL ".join(
                   f"SELECT event_type, h, {s} AS scale, y{s} * y{s} AS m "
                   f"FROM resp WHERE y{s} IS NOT NULL"
                   for s in _SCALOGRAM_SCALES
               ),
               "),",
               "nb AS (",
               "  SELECT event_type, scale, h, m,",
               "         lag(m) OVER w2 AS pm, lag(h) OVER w2 AS ph,",
               "         lead(m) OVER w2 AS nm, lead(h) OVER w2 AS nh",
               "  FROM stacked WINDOW w2 AS (PARTITION BY event_type, scale ORDER BY h)",
               "),",
               "sq AS (",
               "  SELECT event_type, scale, h, m,",
               "         CASE WHEN coalesce(pm, 0) + m + coalesce(nm, 0) > 0",
               "              THEN (coalesce(pm * ph, 0) + m * h + coalesce(nm * nh, 0))",
               "                   // (coalesce(pm, 0) + m + coalesce(nm, 0))",
               "              ELSE h END AS r",
               "  FROM nb",
               ")",
               "SELECT event_type, CAST(scale AS BIGINT) AS scale, CAST(r AS BIGINT) AS r,",
               "       CAST(sum(m) AS BIGINT) AS mass,",
               "       CAST(sum(CASE WHEN r <> h THEN 1 ELSE 0 END) AS BIGINT) AS moved_bins,",
               "       count(*) AS n_bins",
               "FROM sq GROUP BY event_type, scale, r ORDER BY event_type, scale, r"]
        ),
        "events_ncf_pitch": "\n".join(
            ["WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),",
             "hourly AS (SELECT event_type, h, count(*)::BIGINT AS x FROM e GROUP BY event_type, h),",
             "leads AS (",
             "  SELECT event_type, x,"]
            + [f"         lead(x, {L}) OVER w AS l{L}," for L in _NCF_LAGS]
            + ["         1 AS _d",
               "  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)",
               "),",
               "per_type AS (",
               "  SELECT event_type,"]
            + [
                f"         sum(CASE WHEN l{L} IS NOT NULL THEN x * l{L} END) AS num{L},\n"
                f"         sum(CASE WHEN l{L} IS NOT NULL THEN x * x END) AS d1_{L},\n"
                f"         sum(l{L} * l{L}) AS d2_{L},\n"
                f"         count(l{L}) AS n{L},"
                for L in _NCF_LAGS
            ]
            + ["         1 AS _d2",
               "  FROM leads GROUP BY event_type",
               "),",
               "lags AS (",
               "  "
               + " UNION ALL ".join(
                   f"SELECT event_type, {L} AS lag, num{L} AS num, d1_{L} AS d1, "
                   f"d2_{L} AS d2, n{L} AS n_overlap FROM per_type"
                   for L in _NCF_LAGS
               ),
               "),",
               "scored AS (",
               "  SELECT event_type, lag, n_overlap,",
               "         CAST(ROUND(num / sqrt(d1::DOUBLE * d2::DOUBLE) * 1000000) AS BIGINT) AS ncf_e6",
               "  FROM lags WHERE d1 > 0 AND d2 > 0",
               "),",
               "ranked AS (",
               "  SELECT event_type, lag, ncf_e6, n_overlap,",
               "         row_number() OVER (PARTITION BY event_type",
               "                            ORDER BY ncf_e6 DESC, lag) AS rn",
               "  FROM scored",
               ")",
               "SELECT event_type, CAST(lag AS BIGINT) AS pitch_lag, ncf_e6,",
               "       CAST(n_overlap AS BIGINT) AS n_overlap",
               "FROM ranked WHERE rn = 1 ORDER BY event_type"]
        ),
        "events_swt": "\n".join(
            ["WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),",
             "hourly AS (SELECT event_type, h, count(*)::BIGINT AS x FROM e GROUP BY event_type, h),",
             "lagged AS (",
             "  SELECT event_type, x,"]
            + [
                f"         lag(x, {1 << (L - 1)}) OVER w AS p{L},"
                for L in _SWT_LEVELS
            ]
            + ["         1 AS _d",
               "  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)",
               "),",
               "st AS (",
               "  "
               + " UNION ALL ".join(
                   f"SELECT event_type, {L} AS level, x - p{L} AS d, x + p{L} AS a "
                   f"FROM lagged WHERE p{L} IS NOT NULL"
                   for L in _SWT_LEVELS
               ),
               ")",
               "SELECT event_type, CAST(level AS BIGINT) AS level,",
               "       CAST(sum(d * d) AS BIGINT) AS detail_energy,",
               "       CAST(sum(a * a) AS BIGINT) AS approx_energy,",
               "       count(*) AS n_coefs",
               "FROM st GROUP BY event_type, level ORDER BY event_type, level"]
        ),
        "events_stft_pitch": "\n".join(
            ["WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),",
             "hourly AS (SELECT event_type, h, count(*)::DOUBLE AS x FROM e GROUP BY event_type, h),",
             "idx AS (",
             "  SELECT event_type, x,",
             "         row_number() OVER (PARTITION BY event_type ORDER BY h) - 1 AS i",
             "  FROM hourly",
             "),",
             "tot AS (SELECT event_type, count(*) AS N FROM hourly GROUP BY event_type),",
             "spec AS (",
             "  SELECT idx.event_type,"]
            + [
                f"         CAST(ROUND(sum(x * cos(2 * pi() * {k} * i / N)) * 1000000) AS BIGINT) AS re{k},\n"
                f"         CAST(ROUND(sum(x * sin(2 * pi() * {k} * i / N)) * 1000000) AS BIGINT) AS im{k},"
                for k in _STFT_PITCH_BINS
            ]
            + ["         1 AS _d",
               "  FROM idx JOIN tot USING (event_type) GROUP BY idx.event_type",
               "),",
               "bins AS (",
               "  "
               + " UNION ALL ".join(
                   f"SELECT event_type, {k} AS bin, re{k} AS re_e6, im{k} AS im_e6 FROM spec"
                   for k in _STFT_PITCH_BINS
               ),
               "),",
               "ranked AS (",
               "  SELECT event_type, bin, re_e6, im_e6,",
               "         row_number() OVER (PARTITION BY event_type ORDER BY",
               "           re_e6::DOUBLE * re_e6::DOUBLE + im_e6::DOUBLE * im_e6::DOUBLE DESC,",
               "           bin) AS rn",
               "  FROM bins",
               ")",
               "SELECT event_type, CAST(bin AS BIGINT) AS pitch_bin, re_e6, im_e6",
               "FROM ranked WHERE rn = 1 ORDER BY event_type"]
        ),
        "events_lhs_pitch": "\n".join(
            ["WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),",
             "hourly AS (SELECT event_type, h, count(*)::DOUBLE AS x FROM e GROUP BY event_type, h),",
             "idx AS (",
             "  SELECT event_type, x,",
             "         row_number() OVER (PARTITION BY event_type ORDER BY h) - 1 AS i",
             "  FROM hourly",
             "),",
             "tot AS (SELECT event_type, count(*) AS N FROM hourly GROUP BY event_type),",
             "spec AS (",
             "  SELECT idx.event_type,"]
            + [
                f"         CAST(ROUND(sum(x * cos(2 * pi() * {b} * i / N)) * 1000000) AS BIGINT) AS re{b},\n"
                f"         CAST(ROUND(sum(x * sin(2 * pi() * {b} * i / N)) * 1000000) AS BIGINT) AS im{b},"
                for b in _LHS_BINS
            ]
            + ["         1 AS _d",
               "  FROM idx JOIN tot USING (event_type) GROUP BY idx.event_type",
               "),",
               "cands AS (",
               "  "
               + " UNION ALL ".join(
                   "SELECT event_type, {j} AS bin, CAST(ROUND(({terms}) * 1000000) AS BIGINT)"
                   " AS lhs_e6 FROM spec".format(
                       j=jf,
                       terms=" + ".join(
                           f"ln(1 + (re{jf * k}::DOUBLE / 1000000)"
                           f" * (re{jf * k}::DOUBLE / 1000000)"
                           f" + (im{jf * k}::DOUBLE / 1000000)"
                           f" * (im{jf * k}::DOUBLE / 1000000))"
                           for k in range(1, _LHS_HARMONICS + 1)
                       ),
                   )
                   for jf in _LHS_FUNDAMENTALS
               ),
               "),",
               "ranked AS (",
               "  SELECT event_type, bin, lhs_e6,",
               "         row_number() OVER (PARTITION BY event_type",
               "                            ORDER BY lhs_e6 DESC, bin) AS rn",
               "  FROM cands",
               ")",
               "SELECT event_type, CAST(bin AS BIGINT) AS pitch_bin, lhs_e6",
               "FROM ranked WHERE rn = 1 ORDER BY event_type"]
        ),
        "events_nsgt": """
WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),
hourly AS (SELECT event_type, h, count(*)::DOUBLE AS x FROM e GROUP BY event_type, h),
idx AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY h) - 1 AS i
  FROM hourly
),
tot AS (SELECT event_type, count(*) AS N FROM hourly GROUP BY event_type),
b AS (SELECT 1 AS band UNION ALL SELECT 2 UNION ALL SELECT 4),
j AS (
  SELECT idx.event_type, x, i, band,
         greatest((N + 4 * band - 1) // (4 * band), 3) AS L
  FROM idx JOIN tot USING (event_type) CROSS JOIN b
),
f AS (
  SELECT event_type, x, band, L, i // L AS frame, i % L AS r FROM j
)
SELECT event_type, CAST(band AS BIGINT) AS band, CAST(frame AS BIGINT) AS frame,
       CAST(ROUND(sum(x * cos(2 * pi() * r / L)) * 1000000) AS BIGINT) AS re_e6,
       CAST(ROUND(sum(x * sin(2 * pi() * r / L)) * 1000000) AS BIGINT) AS im_e6,
       count(*) AS n_support
FROM f GROUP BY event_type, band, frame
ORDER BY event_type, band, frame
""",
        "events_phase_novelty": _PHASE_FRAME_SQL + """
lg AS (
  SELECT event_type, frame, re, im, phi, mag,
         lag(phi, 1) OVER w AS phi1, lag(phi, 2) OVER w AS phi2,
         lag(mag, 1) OVER w AS mag1
  FROM ph WINDOW w AS (PARTITION BY event_type ORDER BY frame)
),
sc AS (
  SELECT event_type, mag,
         abs((phi - 2 * phi1 + phi2)
             - 2 * pi() * floor((phi - 2 * phi1 + phi2) / (2 * pi()) + 0.5)) AS dev,
         sqrt((re - mag1 * cos(2 * phi1 - phi2)) * (re - mag1 * cos(2 * phi1 - phi2))
              + (im - mag1 * sin(2 * phi1 - phi2)) * (im - mag1 * sin(2 * phi1 - phi2))) AS cdist,
         (mag > mag1) AS rising
  FROM lg WHERE phi2 IS NOT NULL
)
SELECT event_type,
       CAST(ROUND(avg(dev) * 1000000) AS BIGINT) AS pd_e6,
       CAST(ROUND(avg(mag * dev) * 1000000) AS BIGINT) AS wpd_e6,
       CAST(ROUND(sum(mag * dev) / sum(mag) * 1000000) AS BIGINT) AS nwpd_e6,
       CAST(ROUND(sum(cdist) * 1000000) AS BIGINT) AS cd_e6,
       CAST(ROUND(sum(CASE WHEN rising THEN cdist ELSE 0 END) * 1000000) AS BIGINT) AS rcd_e6,
       count(*) AS n_frames
FROM sc GROUP BY event_type ORDER BY event_type
""",
        "events_phase_unwrap": _PHASE_FRAME_SQL + """
st AS (
  SELECT event_type, frame, phi,
         CASE WHEN lag(phi) OVER w IS NULL THEN 0
              ELSE floor((phi - lag(phi) OVER w) / (2 * pi()) + 0.5) END AS k
  FROM ph WINDOW w AS (PARTITION BY event_type ORDER BY frame)
),
cu AS (
  SELECT event_type, frame, phi,
         sum(k) OVER (PARTITION BY event_type ORDER BY frame
                      ROWS UNBOUNDED PRECEDING) AS c
  FROM st
)
SELECT event_type, CAST(frame AS BIGINT) AS frame,
       CAST(ROUND(phi * 1000000) AS BIGINT) AS phase_e6,
       CAST(ROUND((phi - 2 * pi() * c) * 1000000) AS BIGINT) AS unwrap_e6
FROM cu ORDER BY event_type, frame
""",
        # shared vocoder core for timestretch/pitchshift: the per-step
        # phase increment is e6-quantized BEFORE the window cumsum so the
        # accumulation is an exact integer sum in both engines (DuckDB's
        # segment-tree float sum order differs from Spark's sequential one)
        "events_timestretch": _PHASE_FRAME_SQL + _VOCODER_SQL + """
SELECT event_type, CAST(step AS BIGINT) AS step,
       CAST(ROUND(mag_out * cos(psi) * 1000000) AS BIGINT) AS out_re_e6,
       CAST(ROUND(mag_out * sin(psi) * 1000000) AS BIGINT) AS out_im_e6,
       CAST(ROUND(mag_out * 1000000) AS BIGINT) AS mag_e6
FROM cum ORDER BY event_type, step
""",
        "events_pitchshift": _PHASE_FRAME_SQL + _VOCODER_SQL + """
SELECT event_type, CAST(step // 2 AS BIGINT) AS t,
       CAST(ROUND(mag_out * cos(psi) * 1000000) AS BIGINT) AS out_re_e6,
       CAST(ROUND(mag_out * sin(psi) * 1000000) AS BIGINT) AS out_im_e6
FROM cum WHERE step % 2 = 0 ORDER BY event_type, t
""",
        "events_pwt": "\n".join(
            ["WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),",
             "hourly AS (SELECT event_type, h, count(*)::DOUBLE AS x FROM e GROUP BY event_type, h),",
             "idx AS (",
             "  SELECT event_type, x,",
             "         row_number() OVER (PARTITION BY event_type ORDER BY h) - 1 AS i",
             "  FROM hourly",
             "),",
             "tot AS (SELECT event_type, count(*) AS N FROM hourly GROUP BY event_type),",
             "spec AS (",
             "  SELECT idx.event_type,"]
            + [
                f"         CAST(ROUND(sum(x * cos(2 * pi() * {k} * i / N)) * 1000000) AS BIGINT) AS re{k},\n"
                f"         CAST(ROUND(sum(x * sin(2 * pi() * {k} * i / N)) * 1000000) AS BIGINT) AS im{k},"
                for k in _PWT_PROBE_BINS
            ]
            + ["         1 AS _d",
               "  FROM idx JOIN tot USING (event_type) GROUP BY idx.event_type",
               "),",
               "bands AS (",
               "  "
               + " UNION ALL ".join(
                   "SELECT event_type, {c} AS band,"
                   " CAST(ROUND(({terms}) * 1000000) AS BIGINT) AS energy_e6"
                   " FROM spec".format(
                       c=c,
                       terms=" + ".join(
                           # identical IEEE weight literal as the Spark plan
                           # (repr roundtrips the double exactly)
                           f"{math.exp(-((k - c) ** 2) / (2.0 * (c / 2.0) ** 2))!r}"
                           f" * ((re{k}::DOUBLE / 1000000) * (re{k}::DOUBLE / 1000000)"
                           f" + (im{k}::DOUBLE / 1000000) * (im{k}::DOUBLE / 1000000))"
                           for k in _PWT_PROBE_BINS
                       ),
                   )
                   for c in _PWT_CENTERS
               ),
               ")",
               "SELECT event_type, CAST(band AS BIGINT) AS band, energy_e6",
               "FROM bands ORDER BY event_type, band"]
        ),
        "doc_pack_windows": f"""
WITH tok AS ({_TOK_SQL}),
c AS (SELECT doc_id, count(*) AS c FROM tok GROUP BY doc_id),
lens AS (
  SELECT d.doc_id, coalesce(c.c, 0)::BIGINT AS len
  FROM documents d LEFT JOIN c USING (doc_id)
),
cum AS (
  SELECT doc_id, len,
         sum(len) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - len
           AS cum_before
  FROM lens
)
SELECT CAST(cum_before // {PACK_CAP} AS BIGINT) AS window_id,
       count(*) AS n_docs,
       CAST(sum(len) AS BIGINT) AS tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM cum GROUP BY window_id ORDER BY window_id
""",
        "doc_stratified_sample": f"""
WITH tok AS ({_TOK_SQL}),
c AS (SELECT doc_id, count(*) AS c FROM tok GROUP BY doc_id),
d AS (
  SELECT doc.doc_id, doc.lang, coalesce(c.c, 0)::BIGINT AS len,
         CASE WHEN ascii(substr(md5(doc.doc_id::VARCHAR), 1, 1)) % {SAMPLE_MOD} = 0
              THEN 1 ELSE 0 END AS kept
  FROM documents doc LEFT JOIN c USING (doc_id)
)
SELECT lang, count(*) AS n_total,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(sum(kept * len) AS BIGINT) AS tokens_kept
FROM d GROUP BY lang ORDER BY lang
""",
        "events_pef_pitch": "\n".join(
            ["WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),",
             "hourly AS (SELECT event_type, h, count(*)::BIGINT AS x FROM e GROUP BY event_type, h),",
             "leads AS (",
             "  SELECT event_type, x,"]
            + [
                f"         lead(x, {o}) OVER w AS l{o},"
                for o in sorted({off for t in _PEF_LAGS for off in (t, 2 * t)})
            ]
            + ["         1 AS _d",
               "  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)",
               "),",
               "per_type AS (",
               "  SELECT event_type,"]
            + [
                f"         sum(CASE WHEN l{t} IS NOT NULL AND l{2*t} IS NOT NULL"
                f" THEN x * (2 * l{t} + l{2*t}) END) AS s{t},\n"
                f"         sum(CASE WHEN l{t} IS NOT NULL AND l{2*t} IS NOT NULL"
                f" THEN 1 ELSE 0 END) AS n{t},"
                for t in _PEF_LAGS
            ]
            + ["         1 AS _d2",
               "  FROM leads GROUP BY event_type",
               "),",
               "lags AS (",
               "  "
               + " UNION ALL ".join(
                   f"SELECT event_type, {t} AS lag, s{t} AS s, n{t} AS n_support FROM per_type"
                   for t in _PEF_LAGS
               ),
               "),",
               "scored AS (",
               "  SELECT event_type, lag, n_support,",
               "         CAST(ROUND(s::DOUBLE / n_support * 1000000) AS BIGINT) AS pef_e6",
               "  FROM lags WHERE n_support > 0",
               "),",
               "ranked AS (",
               "  SELECT event_type, lag, pef_e6, n_support,",
               "         row_number() OVER (PARTITION BY event_type",
               "                            ORDER BY pef_e6 DESC, lag) AS rn",
               "  FROM scored",
               ")",
               "SELECT event_type, CAST(lag AS BIGINT) AS pitch_lag, pef_e6,",
               "       CAST(n_support AS BIGINT) AS n_support",
               "FROM ranked WHERE rn = 1 ORDER BY event_type"]
        ),
        "events_wpt_rollup": """
WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),
hourly AS (SELECT event_type, h, count(*)::BIGINT AS x FROM e GROUP BY event_type, h),
l1 AS (
  SELECT event_type, h // 2 AS m,
         sum(x) AS a, sum(x * (1 - 2 * (h % 2))) AS d
  FROM hourly GROUP BY event_type, h // 2
),
l2 AS (
  SELECT event_type, m // 2 AS q,
         sum(a) AS aa, sum(a * (1 - 2 * (m % 2))) AS ad,
         sum(d) AS da, sum(d * (1 - 2 * (m % 2))) AS dd
  FROM l1 GROUP BY event_type, m // 2
),
n1 AS (
  SELECT event_type, 'a' AS node, a AS c FROM l1
  UNION ALL SELECT event_type, 'd', d FROM l1
),
n2 AS (
  SELECT event_type, 'aa' AS node, aa AS c FROM l2
  UNION ALL SELECT event_type, 'ad', ad FROM l2
  UNION ALL SELECT event_type, 'da', da FROM l2
  UNION ALL SELECT event_type, 'dd', dd FROM l2
),
both_levels AS (
  SELECT event_type, CAST(1 AS BIGINT) AS level, node,
         CAST(sum(c * c) AS BIGINT) AS energy, count(*) AS n_coefs
  FROM n1 GROUP BY event_type, node
  UNION ALL
  SELECT event_type, CAST(2 AS BIGINT), node,
         CAST(sum(c * c) AS BIGINT), count(*)
  FROM n2 GROUP BY event_type, node
)
SELECT event_type, level, node, energy, n_coefs
FROM both_levels ORDER BY event_type, level, node
""",
        "events_stransform": """
WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),
hourly AS (SELECT event_type, h, count(*)::DOUBLE AS x FROM e GROUP BY event_type, h),
idx AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY h) - 1 AS i
  FROM hourly
),
tot AS (SELECT event_type, count(*) AS N FROM hourly GROUP BY event_type),
combos(q, k) AS (VALUES (1,1),(1,2),(1,3),(2,1),(2,2),(2,3),(3,1),(3,2),(3,3)),
j AS (
  SELECT idx.event_type, x, i, N, q, k, (q * N) // 4 AS ctr
  FROM idx JOIN tot USING (event_type) CROSS JOIN combos
)
SELECT event_type, CAST(q AS BIGINT) AS q, CAST(k AS BIGINT) AS k,
       CAST(ROUND(sum(x * exp(-((i - ctr) * (i - ctr)) * k * k / (2.0 * N * N))
                        * cos(2 * pi() * k * (i - ctr) / N)) * 1000000) AS BIGINT) AS re_e6,
       CAST(ROUND(sum(x * exp(-((i - ctr) * (i - ctr)) * k * k / (2.0 * N * N))
                        * sin(2 * pi() * k * (i - ctr) / N)) * 1000000) AS BIGINT) AS im_e6
FROM j GROUP BY event_type, q, k ORDER BY event_type, q, k
""",
        "events_czt": """
WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),
hourly AS (SELECT event_type, h, count(*)::DOUBLE AS x FROM e GROUP BY event_type, h),
idx AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY h) - 1 AS i
  FROM hourly
),
tot AS (SELECT event_type, count(*) AS N FROM hourly GROUP BY event_type)
SELECT idx.event_type,
       CAST(ROUND(sum(x * cos(2 * pi() * 1.0 * i / N)) * 1000000) AS BIGINT) AS re4q_e6,
       CAST(ROUND(sum(x * sin(2 * pi() * 1.0 * i / N)) * 1000000) AS BIGINT) AS im4q_e6,
       CAST(ROUND(sum(x * cos(2 * pi() * 1.25 * i / N)) * 1000000) AS BIGINT) AS re5q_e6,
       CAST(ROUND(sum(x * sin(2 * pi() * 1.25 * i / N)) * 1000000) AS BIGINT) AS im5q_e6,
       CAST(ROUND(sum(x * cos(2 * pi() * 1.5 * i / N)) * 1000000) AS BIGINT) AS re6q_e6,
       CAST(ROUND(sum(x * sin(2 * pi() * 1.5 * i / N)) * 1000000) AS BIGINT) AS im6q_e6,
       CAST(ROUND(sum(x * cos(2 * pi() * 1.75 * i / N)) * 1000000) AS BIGINT) AS re7q_e6,
       CAST(ROUND(sum(x * sin(2 * pi() * 1.75 * i / N)) * 1000000) AS BIGINT) AS im7q_e6,
       CAST(ROUND(sum(x * cos(2 * pi() * 2.0 * i / N)) * 1000000) AS BIGINT) AS re8q_e6,
       CAST(ROUND(sum(x * sin(2 * pi() * 2.0 * i / N)) * 1000000) AS BIGINT) AS im8q_e6
FROM idx JOIN tot USING (event_type)
GROUP BY idx.event_type ORDER BY idx.event_type
""",
        "events_hilbert": "\n".join(
            ["WITH e AS (SELECT user_id, event_id, value, floor(epoch(ts))::BIGINT AS t FROM events),",
             "q AS (",
             "  SELECT event_id, value,",
             "         "
             + " + ".join(
                 f"{h!r} * "
                 + (f"lag(value, {j}) OVER w" if j > 0 else f"lead(value, {-j}) OVER w")
                 for j, h in _hilbert_taps()
             )
             + " AS y",
             "  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)",
             ")",
             "SELECT event_id,",
             "       CAST(ROUND(y * 1000000) AS BIGINT) AS quad_e6,",
             "       CAST(ROUND(sqrt(value * value + y * y) * 1000000) AS BIGINT) AS env_e6",
             "FROM q WHERE y IS NOT NULL ORDER BY event_id"]
        ),
        "events_goertzel": """
WITH e AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),
hourly AS (SELECT event_type, h, count(*)::DOUBLE AS x FROM e GROUP BY event_type, h),
idx AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY h) - 1 AS i
  FROM hourly
),
tot AS (SELECT event_type, count(*) AS N FROM hourly GROUP BY event_type)
SELECT idx.event_type,
       CAST(ROUND(sum(x * cos(2 * pi() * 1 * i / N)) * 1000000) AS BIGINT) AS re1_e6,
       CAST(ROUND(sum(x * sin(2 * pi() * 1 * i / N)) * 1000000) AS BIGINT) AS im1_e6,
       CAST(ROUND(sum(x * cos(2 * pi() * 2 * i / N)) * 1000000) AS BIGINT) AS re2_e6,
       CAST(ROUND(sum(x * sin(2 * pi() * 2 * i / N)) * 1000000) AS BIGINT) AS im2_e6,
       CAST(ROUND(sum(x * cos(2 * pi() * 3 * i / N)) * 1000000) AS BIGINT) AS re3_e6,
       CAST(ROUND(sum(x * sin(2 * pi() * 3 * i / N)) * 1000000) AS BIGINT) AS im3_e6
FROM idx JOIN tot USING (event_type)
GROUP BY idx.event_type ORDER BY idx.event_type
""",
        "doc_hps": f"""
WITH tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS s FROM tok GROUP BY doc_id, term),
ranked AS (
  SELECT doc_id, ln(s) AS ls,
         row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term) AS r
  FROM tf
),
tot AS (SELECT doc_id, count(*) AS M FROM tf GROUP BY doc_id),
cand AS (
  SELECT ranked.doc_id, r AS k, ls AS l1
  FROM ranked JOIN tot USING (doc_id) WHERE r * 3 <= M
),
hps AS (
  SELECT c.doc_id, c.k,
         CAST(ROUND((c.l1 + h2.ls + h3.ls) * 1000000) AS BIGINT) AS hps_log_e6
  FROM cand c
  JOIN ranked h2 ON h2.doc_id = c.doc_id AND h2.r = c.k * 2
  JOIN ranked h3 ON h3.doc_id = c.doc_id AND h3.r = c.k * 3
),
pick AS (
  SELECT doc_id, k, hps_log_e6,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY hps_log_e6 DESC, k) AS rn
  FROM hps
)
SELECT doc_id, CAST(k AS BIGINT) AS pitch_k, hps_log_e6
FROM pick WHERE rn = 1 ORDER BY doc_id
""",
        "doc_envelope_residue": f"""
WITH tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, term),
ranked AS (
  SELECT doc_id, ln(1.0 + tf) AS x,
         row_number() OVER (PARTITION BY doc_id ORDER BY term) - 1 AS i
  FROM tf
),
tot AS (SELECT doc_id, count(*) AS M FROM tf GROUP BY doc_id),
j AS (SELECT * FROM ranked JOIN tot USING (doc_id)),
ceps AS (
  SELECT doc_id,
         sum(x * cos(pi() / M * (i + 0.5) * 0)) AS c0,
         sum(x * cos(pi() / M * (i + 0.5) * 1)) AS c1,
         sum(x * cos(pi() / M * (i + 0.5) * 2)) AS c2
  FROM j GROUP BY doc_id
),
rows_e AS (
  SELECT j.doc_id, j.x,
         c0 / M + (2.0 / M) * (c1 * cos(pi() * 1 * (i + 0.5) / M)
                             + c2 * cos(pi() * 2 * (i + 0.5) / M)) AS e
  FROM j JOIN ceps USING (doc_id)
)
SELECT doc_id,
       CAST(ROUND(sum(e * e) * 1000000) AS BIGINT) AS env_energy_e6,
       CAST(ROUND(sum((x - e) * (x - e)) * 1000000) AS BIGINT) AS res_energy_e6
FROM rows_e GROUP BY doc_id ORDER BY doc_id
""",
        "events_cepstrogram": """
WITH e AS (
  SELECT event_type,
         floor(epoch(ts))::BIGINT // 86400 AS day,
         (floor(epoch(ts))::BIGINT % 86400) // 3600 AS h
  FROM events
),
hourly AS (
  SELECT event_type, day, h, ln(1.0 + count(*)) AS x
  FROM e GROUP BY event_type, day, h
)
SELECT event_type, day,
       CAST(ROUND(sum(x * cos(pi() / 24 * (h + 0.5) * 0)) * 1000000) AS BIGINT) AS c0_e6,
       CAST(ROUND(sum(x * cos(pi() / 24 * (h + 0.5) * 1)) * 1000000) AS BIGINT) AS c1_e6,
       CAST(ROUND(sum(x * cos(pi() / 24 * (h + 0.5) * 2)) * 1000000) AS BIGINT) AS c2_e6
FROM hourly GROUP BY event_type, day ORDER BY event_type, day
""",
        "doc_cepstrum": f"""
WITH tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, term),
ranked AS (
  SELECT doc_id, ln(1.0 + tf) AS x,
         row_number() OVER (PARTITION BY doc_id ORDER BY term) - 1 AS i
  FROM tf
),
tot AS (SELECT doc_id, count(*) AS M FROM tf GROUP BY doc_id)
SELECT ranked.doc_id,
       CAST(ROUND(sum(x * cos(pi() / M * (i + 0.5) * 0)) * 1000000) AS BIGINT) AS c0_e6,
       CAST(ROUND(sum(x * cos(pi() / M * (i + 0.5) * 1)) * 1000000) AS BIGINT) AS c1_e6,
       CAST(ROUND(sum(x * cos(pi() / M * (i + 0.5) * 2)) * 1000000) AS BIGINT) AS c2_e6
FROM ranked JOIN tot USING (doc_id)
GROUP BY ranked.doc_id ORDER BY ranked.doc_id
""",
        "doc_rolloff": f"""
WITH tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS w FROM tok GROUP BY doc_id, term),
ranked AS (
  SELECT doc_id, w,
         row_number() OVER (PARTITION BY doc_id ORDER BY term) AS k,
         sum(w) OVER (PARTITION BY doc_id ORDER BY term
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tf
),
tot AS (SELECT doc_id, sum(w) AS tot, count(*) AS n_terms FROM tf GROUP BY doc_id)
SELECT r.doc_id,
       CAST(min(r.k) AS BIGINT) AS rolloff_k,
       t.n_terms,
       CAST(ROUND(min(r.k)::DOUBLE / t.n_terms * 1000000) AS BIGINT) AS rolloff_frac_e6
FROM ranked r JOIN tot t USING (doc_id)
WHERE r.cum >= 0.85 * t.tot
GROUP BY r.doc_id, t.n_terms ORDER BY r.doc_id
""",
        "events_yin_trough": """
WITH e AS (SELECT user_id, event_id, value, floor(epoch(ts))::BIGINT AS t FROM events),
x AS (
  SELECT user_id, event_id, value, t,
         lag(value)  OVER w AS prev,
         lead(value) OVER w AS next,
         (min(value) OVER (PARTITION BY user_id)
          + max(value) OVER (PARTITION BY user_id)) / 2 AS thresh
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
tr AS (
  SELECT user_id, event_id, value, t,
         row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn
  FROM x
  WHERE prev IS NOT NULL AND next IS NOT NULL
    AND value < prev AND value < next AND value < thresh
)
SELECT user_id, event_id AS trough_event_id,
       CAST(ROUND(value * 1000000) AS BIGINT) AS trough_value_e6,
       t AS trough_t
FROM tr WHERE rn = 1 ORDER BY user_id
""",
        "events_mkl": """
WITH e AS (SELECT user_id, event_id, value, floor(epoch(ts))::BIGINT AS t FROM events),
d AS (
  SELECT user_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
  FROM e
)
SELECT user_id,
       CAST(ROUND(sum(ln(1.0 + abs(value) / greatest(abs(prev), 1e-9))) * 1000000) AS BIGINT) AS mkl_e6,
       count(*) AS n
FROM d WHERE prev IS NOT NULL GROUP BY user_id ORDER BY user_id
""",
        "events_hourly_entropy": """
WITH hourly AS (
  SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h, count(*)::DOUBLE AS n
  FROM events GROUP BY event_type, h
),
per_type AS (SELECT event_type, sum(n) AS L, sum(n * ln(n)) AS nlogn FROM hourly GROUP BY event_type)
SELECT event_type, CAST(ROUND((ln(L) - nlogn / L) * 1000000) AS BIGINT) AS entropy_e6
FROM per_type ORDER BY event_type
""",
        "events_sliding_median": """
WITH e AS (SELECT user_id, event_id, value, floor(epoch(ts))::BIGINT AS t FROM events)
SELECT event_id,
       CAST(ROUND(quantile_cont(value, 0.5) OVER (PARTITION BY user_id ORDER BY t, event_id
            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) * 1000000) AS BIGINT) AS med5_e6
FROM e ORDER BY event_id
""",
        "doc_tf_stats": f"""
WITH tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
mx AS (SELECT doc_id, max(tf) AS max_tf, sum(tf * tf) AS sum_tf2 FROM tf GROUP BY doc_id)
SELECT tf.doc_id, mx.max_tf, min(tf.term) AS top_term, CAST(mx.sum_tf2 AS BIGINT) AS sum_tf2
FROM tf JOIN mx ON tf.doc_id = mx.doc_id AND tf.tf = mx.max_tf
GROUP BY tf.doc_id, mx.max_tf, mx.sum_tf2 ORDER BY tf.doc_id
""",
    }


def queries():
    # ORDER MATTERS: the driver's correctness harness samples the FIRST 50
    # entries. Window policy (two rules, guarded by
    # tests/test_entry_contract.py::test_driver_window_composition):
    #   1. NEW-OR-CHANGED: every query added or whose plan changed in the
    #      current round sits inside the window — it must earn a fresh
    #      driver-green artifact before it can ever rotate out.
    #   2. ROTATION: the window's remaining slots go to the entries with
    #      the OLDEST driver-green artifact, so every registry entry is
    #      driver-re-verified at least every 2 rounds. Entries parked at
    #      the tail always carry a PREVIOUS-round driver-green row and stay
    #      covered by the in-repo DuckDB-parity suite, which runs ALL
    #      entries (tests/test_entry_contract.py).
    # Round 5: in-window = new/changed + r1-r3-stale rotation (see git
    # history). Round 6 (OPTIMIZATION round): in-window =
    #   rule 1 — the optimization round's changed-plan set: the remaining
    #     per-doc tf consumers moved to the shared _doc_tf artifact
    #     (doc_tf_moments/shape/stats, doc_tristimulus, doc_cepstrum,
    #     doc_rolloff, doc_envelope_residue, nmf_topics, text_quality,
    #     lang_id, doc_blocklist, corpus_stats, dedup_simhash[+_pairs]),
    #     the _doc_lens spine consumers (doc_lengths, top_docs_by_len,
    #     doc_pack_windows, doc_stratified_sample, doc_source_mix),
    #     doc_hps (rank window removed), and the per-bucket BLAS pair
    #     kernel (dedup_embedding_pairs, dedup_semdedup);
    #   rule 2 — every row whose last driver-green artifact is r4 rotates
    #     back in (the r5 VERDICT's ask #6), EXCEPT three family-covered
    #     overflow rows (window holds 50): ann_ivf_label (identical
    #     _cosine_topk plan to in-window ann_topk_cosine + the IVF artifact
    #     sampled via ann_ivf_trained) and events_stft_pitch /
    #     events_pef_pitch (the 6-estimator pitch family keeps YIN + NCF
    #     in-window; LHS/CEP are r5-green) — all three stay covered by the
    #     in-repo parity suite and re-enter in r7.
    # Parked = every r5-green row (returns r7) + the three overflow rows.
    return {
        # -- flagship serving paths, rotation edition (rule 2): the
        # r4-green hot/exhaustive/compacted trio rotates back in;
        # rare/conjunctive/lang_filtered/phrase/incremental are r5-green
        # and park for one round (same reader + kernel stays sampled
        # through bm25_topk_hot; compacted keeps streaming+compaction)
        "bm25_topk_hot": q_bm25_topk_hot,
        "bm25_topk_exhaustive": q_bm25_topk_exhaustive,
        "bm25_topk_compacted": q_bm25_topk_compacted,
        # -- round-6 changed-plan set (rule 1)
        "doc_hps": q_doc_hps,
        "doc_lengths": q_doc_lengths,
        "top_docs_by_len": q_top_docs_by_len,
        "corpus_stats": q_corpus_stats,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "doc_blocklist": q_doc_blocklist,
        "doc_source_mix": q_doc_source_mix,
        "doc_pack_windows": q_doc_pack_windows,
        "doc_stratified_sample": q_doc_stratified_sample,
        "doc_tf_moments": q_doc_tf_moments,
        "doc_tf_shape": q_doc_tf_shape,
        "doc_tf_stats": q_doc_tf_stats,
        "doc_tristimulus": q_doc_tristimulus,
        "doc_cepstrum": q_doc_cepstrum,
        "doc_rolloff": q_doc_rolloff,
        "doc_envelope_residue": q_doc_envelope_residue,
        "nmf_topics": q_nmf_topics,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_embedding_pairs": q_dedup_embedding_pairs,
        "dedup_semdedup": q_dedup_semdedup,
        # -- rotation: last driver-green artifact is r4 (rule 2)
        "dedup_canonical": q_dedup_canonical,
        "dedup_shingle_jaccard": q_dedup_shingle_jaccard,
        "dedup_lsh_pairs": q_dedup_lsh_pairs,
        "ann_ivf_trained": q_ann_ivf_trained,
        "ann_topk_cosine": q_ann_topk_cosine,
        "events_sessionize": q_events_sessionize,
        "viterbi_states": q_viterbi_states,
        "hmm_fit": q_hmm_fit,
        "lineitem_pricing_summary": q_lineitem_pricing_summary,
        "analyzer_family": q_analyzer_family,
        "ngram_multires": q_ngram_multires,
        "events_dct": q_events_dct,
        "events_goertzel": q_events_goertzel,
        "events_czt": q_events_czt,
        "events_stransform": q_events_stransform,
        "events_hilbert": q_events_hilbert,
        "events_reassign": q_events_reassign,
        "events_scalogram": q_events_scalogram,
        "events_cepstrogram": q_events_cepstrogram,
        "events_yin_trough": q_events_yin_trough,
        "events_hourly_entropy": q_events_hourly_entropy,
        "events_synsq": q_events_synsq,
        "events_ncf_pitch": q_events_ncf_pitch,
        "events_wpt_rollup": q_events_wpt_rollup,
        "events_swt": q_events_swt,
        # ---------------- driver window boundary (entry 50 ends above) ----
        # -- parked: r5-green flagship serving rows (return r7)
        "bm25_topk_rare": q_bm25_topk_rare,
        "bm25_topk_conjunctive": q_bm25_topk_conjunctive,
        "bm25_topk_lang_filtered": q_bm25_topk_lang_filtered,
        "bm25_topk_phrase": q_bm25_topk_phrase,
        "bm25_topk_incremental": q_bm25_topk_incremental,
        # -- parked: r4-green overflow trio (family-covered, see header)
        "ann_ivf_label": q_ann_ivf_label,
        "events_stft_pitch": q_events_stft_pitch,
        "events_pef_pitch": q_events_pef_pitch,
        # -- parked: all driver-green in CORRECTNESS_r05.json
        "dedup_decontaminate": q_dedup_decontaminate,
        "events_lhs_pitch": q_events_lhs_pitch,
        "events_nsgt": q_events_nsgt,
        "events_pwt": q_events_pwt,
        "events_phase_novelty": q_events_phase_novelty,
        "events_phase_unwrap": q_events_phase_unwrap,
        "events_timestretch": q_events_timestretch,
        "events_pitchshift": q_events_pitchshift,
        "events_rollup_pyramid": q_events_rollup_pyramid,
        "doc_dup_spans": q_doc_dup_spans,
        "doc_repetition": q_doc_repetition,
        "doc_lm_score": q_doc_lm_score,
        "events_tune_track": q_events_tune_track,
        "doc_dsir_weights": q_doc_dsir_weights,
        "corpus_kmv_sketch": q_corpus_kmv_sketch,
        "doc_ccnet_bucket": q_doc_ccnet_bucket,
        "dedup_cluster_stats": q_dedup_cluster_stats,
        "events_sliding_median": q_events_sliding_median,
        "events_mkl": q_events_mkl,
        "events_resample": q_events_resample,
        "events_fir": q_events_fir,
        "term_entropy": q_term_entropy,
        "term_doc_freqs": q_term_doc_freqs,
        "token_fingerprint": q_token_fingerprint,
        "embedding_norms": q_embedding_norms,
        "events_hourly": q_events_hourly,
        "events_user_topk": q_events_user_topk,
        "events_value_zscore": q_events_value_zscore,
        "events_sliding_max": q_events_sliding_max,
        "events_delta_stats": q_events_delta_stats,
        "events_xcorr": q_events_xcorr,
        "events_delta_regression": q_events_delta_regression,
        "source_novelty": q_source_novelty,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the inverted index over sf0.001 documents (resumable,
    cached) and answer a BM25 top-k via block-max WAND."""
    return q_bm25_topk_hot(spark, "/root/testdata/sf0.001")
