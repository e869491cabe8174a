from __future__ import annotations

import pandas as pd
import pytest

from audioflux_spark.config import EngineConfig, IndexConfig
from audioflux_spark.fixtures import SF_TO_NCONVS, gen_queries, gen_transcripts
from audioflux_spark.oracle import BM25Oracle
from audioflux_spark.plans.session import get_spark

POS_CFG = EngineConfig(
    index=IndexConfig(block_size=32, build_partitions=8, store_positions=True)
)


@pytest.fixture(scope="session", autouse=True)
def artifact_root(tmp_path_factory):
    """The registry's artifacts go to a fresh directory per test session,
    never to whatever an earlier run left under the default root."""
    import audioflux_spark.entry_queries as eq

    default, eq._MAT_ROOT = eq._MAT_ROOT, str(tmp_path_factory.mktemp("artifacts"))
    yield eq._MAT_ROOT
    eq._MAT_ROOT = default


@pytest.fixture(scope="session")
def spark():
    s = get_spark("afspark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts_pdf() -> pd.DataFrame:
    return gen_transcripts(SF_TO_NCONVS["0.001"])


@pytest.fixture(scope="session")
def transcripts_sdf(spark, transcripts_pdf):
    # read from the parquet fixture (NOT createDataFrame + repartition): a
    # deterministic scan gives deterministic range-partition sampling, which
    # the resume byte-identity guarantee is conditioned on — arbitrary
    # shuffled inputs have nondeterministic row order across runs and fall
    # back to fingerprint-mismatch full rebuild (safe, not byte-stable).
    from audioflux_spark.fixtures import fixture_dir

    df = spark.read.parquet(fixture_dir("0.001") + "/transcripts.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def oracle(transcripts_pdf) -> BM25Oracle:
    return BM25Oracle(transcripts_pdf)


@pytest.fixture(scope="session")
def queries(transcripts_pdf):
    return gen_queries(transcripts_pdf)


@pytest.fixture(scope="session")
def pos_reader(spark, transcripts_sdf, tmp_path_factory):
    """A reader over the fixture corpus indexed with positions (phrase
    queries) and 32-posting blocks."""
    from audioflux_spark.operators.indexer import build_index
    from audioflux_spark.sources.segments import IndexReader

    d = str(tmp_path_factory.mktemp("pos_index") / "idx")
    build_index(spark, transcripts_sdf, d, cfg=POS_CFG)
    return IndexReader(spark, d)
