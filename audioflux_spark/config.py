"""Engine configuration — the "schema-on-new" analog.

The reference fixes all operator parameters at object construction time
(audioFlux `BFT.__init__`, /root/reference/python/audioflux/bft.py:142-227;
enum-driven config, /root/reference/python/audioflux/type/basic.py:25-392).
We mirror that: immutable dataclasses constructed once, broadcast to
executors, consulted by every kernel. No per-call parameter drift.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class AnalyzerConfig:
    """Tokenizer contract shared by engine, oracle, and fixtures (FIXTURES.md F4).

    Analog of the reference's WindowType enum (window function chosen at
    construction, /root/reference/src/dsp/flux_window.c:618-860): the analyzer
    is the "window function" applied to every document before the transform.
    """

    lowercase: bool = True
    # split on anything that is not [a-z0-9_]; token_pattern is the *keep* side
    token_pattern: str = "[a-z0-9_]+"
    split_pattern: str = "[^a-z0-9_]+"
    # post-split filters (applied in this order, matching the SQL twins):
    # 1. drop stopwords; 2. naive plural stemmer (strip trailing 's' from
    # tokens longer than 3 chars — the classic "s-stemmer", Harman 1991);
    # 3. drop tokens shorter than min_token_len; 4. truncate tokens to
    # max_token_len chars (a crude prefix-stemmer, like Lucene's
    # TruncateTokenFilter). 0 = no limit.
    stopwords: tuple[str, ...] = ()
    strip_plural_s: bool = False
    min_token_len: int = 1
    max_token_len: int = 0


EN_STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "on")


# The analyzer FAMILY — the WindowType-enum analog (reference selects one of
# 14 window tapers at construction; we select one of several tokenizer
# contracts). Every member works with tokens_col/doc_len_col/tokenize_series.
ANALYZERS: dict[str, AnalyzerConfig] = {
    "standard": AnalyzerConfig(),  # lowercase, [a-z0-9_]+ keep
    "whitespace": AnalyzerConfig(
        lowercase=False, token_pattern=r"\S+", split_pattern=r"\s+"
    ),
    "lower_whitespace": AnalyzerConfig(
        lowercase=True, token_pattern=r"\S+", split_pattern=r"\s+"
    ),
    "alnum_cased": AnalyzerConfig(
        lowercase=False, token_pattern="[A-Za-z0-9_]+", split_pattern="[^A-Za-z0-9_]+"
    ),
    # the two most common real tuning axes: stopword removal and stemming
    "en_stop": AnalyzerConfig(stopwords=EN_STOPWORDS),
    "s_stem": AnalyzerConfig(strip_plural_s=True),
    # letters only (drops digit runs — the "alpha" tokenizer)
    "alpha": AnalyzerConfig(token_pattern="[a-z]+", split_pattern="[^a-z]+"),
    # stopword removal + stemming composed (the usual production pairing)
    "en_stop_stem": AnalyzerConfig(stopwords=EN_STOPWORDS, strip_plural_s=True),
    # drop 1-char tokens (noise filter)
    "min_len2": AnalyzerConfig(min_token_len=2),
    # prefix-truncate at 8 chars (crude stemmer / vocab cap)
    "trunc8": AnalyzerConfig(max_token_len=8),
}


@dataclass(frozen=True)
class BM25Config:
    """BM25 scoring constants (Robertson/Zaragoza; Lucene-style idf).

    score(q, d) = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))

    Numeric contract (SURVEY §4.2: the reference's float32+log-floor lesson):
    kernels compute in float64; ranking ties broken by (conv_id, turn_idx) asc.
    """

    k1: float = 1.2
    b: float = 0.75


@dataclass(frozen=True)
class IndexConfig:
    """Physical index layout knobs.

    block_size: postings per block-max block (Ding & Suel 2011 use 64-128).
    build_partitions: target partitions for the segment build (the OMP-block
        analog, /root/reference/src/stft_algorithm.c:756-787).
    """

    block_size: int = 128
    build_partitions: int = 32
    # store token positions (varint per-posting deltas) — the substrate for
    # exact-phrase queries; adds one stable argsort + one varint stream to
    # the build kernel. Optional like Lucene's IndexOptions (DOCS_AND_FREQS
    # vs ..._AND_POSITIONS): docs-and-freqs is the throughput default.
    store_positions: bool = False


@dataclass(frozen=True)
class EngineConfig:
    analyzer: AnalyzerConfig = field(default_factory=AnalyzerConfig)
    bm25: BM25Config = field(default_factory=BM25Config)
    index: IndexConfig = field(default_factory=IndexConfig)


DEFAULT = EngineConfig()
