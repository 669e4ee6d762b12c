from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from project_gutenberg_full_text_search_spark.corpus import gen_corpus, gen_corpus_pandas
from project_gutenberg_full_text_search_spark.operators.build_index import build_index
from project_gutenberg_full_text_search_spark.session import get_spark, host_cpus

N_DOCS_SMALL = 300


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        master=f"local[{host_cpus()}]", app_name="pgfts_tests", shuffle_partitions=8
    )
    yield s


@pytest.fixture(scope="session")
def small_corpus_pdf():
    return gen_corpus_pandas(N_DOCS_SMALL, seed=42)


@pytest.fixture(scope="session")
def small_corpus(spark, small_corpus_pdf):
    df = gen_corpus(spark, N_DOCS_SMALL, seed=42, partitions=4)
    return df.cache()


@pytest.fixture(scope="session")
def index_dir(spark, small_corpus):
    d = tempfile.mkdtemp(prefix="pgfts_idx_")
    build_index(
        spark,
        small_corpus,
        d,
        block_range=64,  # small blocks so multi-block paths are exercised
        n_shards=2,
        input_fingerprint="test-corpus-300",
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def oracle(small_corpus_pdf):
    from project_gutenberg_full_text_search_spark.oracle import OracleIndex

    return OracleIndex(small_corpus_pdf)


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("PGFTS_TEST_SF_DIR", "/root/testdata/sf0.001")
