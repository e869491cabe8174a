"""audioflux_spark — a PySpark-native full-text (inverted-index + BM25 top-k)
analytics engine over multi-turn conversation/agent transcripts.

Capability graft of libAudioFlux/audioFlux (see /root/repo/SURVEY.md): the
reference's pipeline shape — partitioned dense source → sliding-window framing
→ per-frame vectorized transform → grouped weighted aggregation → per-frame
reduction → peak-pick/top-k — re-expressed stage-for-stage as an idiomatic
Spark DataFrame program:

    transcripts scan → vectorized tokenize → per-partition posting-segment
    build (delta+varint blobs, block-max metadata) → term-range merge →
    broadcast corpus stats → block-max-WAND top-k BM25 scoring.

Everything here derives from public knowledge only: the PySpark API, the
reference repo's observable behavior, and published IR literature
(Robertson & Zaragoza 2009 for BM25; Ding & Suel 2011 for block-max WAND).
"""

from audioflux_spark.config import AnalyzerConfig, BM25Config, IndexConfig
from audioflux_spark.plans import pyworker
from audioflux_spark.plans.session import get_spark

# runs in the driver and in every Python worker that unpickles an engine
# kernel (each kernel references this package): see plans/pyworker.py
pyworker.install()

__all__ = [
    "AnalyzerConfig",
    "BM25Config",
    "IndexConfig",
    "get_spark",
]

__version__ = "0.1.0"
