"""BM25 scoring expressions — shared math, Catalyst-expression form.

The per-term score is the engine's "filterbank row" (grouped weighted sum,
/root/reference/src/filterbank/auditory_filterBank.c:56-180 analog): the idf
weight table is tiny (one weight per query term) and broadcast; the tf/len
normalization is a scalar expression that stays inside whole-stage codegen.
float64 throughout (SURVEY §7.3 item 1).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from audioflux_spark.config import BM25Config, DEFAULT


def idf_value(n_docs: int, df: int) -> float:
    """Lucene-style idf: ln(1 + (N - df + 0.5)/(df + 0.5))."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tf_norm_col(
    tf: Column, doc_len: Column, avgdl: float, cfg: BM25Config = DEFAULT.bm25
) -> Column:
    """tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) as a float64 expression."""
    k1, b = F.lit(cfg.k1), F.lit(cfg.b)
    tf_d = tf.cast("double")
    denom = tf_d + k1 * (F.lit(1.0) - b + b * doc_len.cast("double") / F.lit(avgdl))
    return tf_d * (k1 + F.lit(1.0)) / denom
