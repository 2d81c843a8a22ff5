import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from entity_matching_in_online_retail_spark import fixtures as fx
from entity_matching_in_online_retail_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("em_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_corpus():
    return fx.generate_corpus(n_entities=50)


@pytest.fixture(scope="session")
def tiny_spark(spark, tiny_corpus):
    pages, pairs, truth = fx.corpus_to_spark(spark, tiny_corpus)
    return pages.cache(), pairs.cache(), truth.cache()
