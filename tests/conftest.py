import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_solr_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="lucene_solr_spark-tests",
        cores=8,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s


@pytest.fixture(scope="session")
def tiny_corpus():
    from lucene_solr_spark import fixtures

    return fixtures.make_transcripts(n_convs=fixtures.SCALES["tiny"])


@pytest.fixture(scope="session")
def make_index(tmp_path_factory):
    """``make_index(df, **kwargs)``: build_segmented_index of ``df`` into
    a fresh temp dir."""
    from lucene_solr_spark.index.segments import build_segmented_index

    def make(df, **kwargs):
        return build_segmented_index(df, str(tmp_path_factory.mktemp("idx")), **kwargs)

    return make


@pytest.fixture(scope="session")
def tiny_index(spark, tiny_corpus, make_index):
    from lucene_solr_spark.index.builder import transcripts_from_pandas

    return make_index(transcripts_from_pandas(spark, tiny_corpus), num_segments=4)


@pytest.fixture(scope="session")
def tiny_oracle(tiny_corpus):
    from lucene_solr_spark.search.oracle import build_oracle_index

    return build_oracle_index(tiny_corpus["text"].tolist())


@pytest.fixture
def wand_legs(monkeypatch):
    """``for leg in wand_legs(): ...`` runs a test body once per execution
    of search_wand: in-process, then as Spark leaves (the in-process
    threshold patched to 0, so every query takes the Spark path)."""
    from lucene_solr_spark.search import wand

    def legs():
        yield "in-process"
        with monkeypatch.context() as m:
            m.setattr(wand, "IN_PROCESS_MAX_POSTINGS", 0)
            yield "spark"

    return legs
