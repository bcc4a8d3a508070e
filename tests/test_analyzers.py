"""The build accepts exactly the two JVM analyzers; anything else, a
typo included, fails before any job runs."""

import os
import subprocess
import sys

import pytest

from lucene_solr_spark.index.builder import tokenized_docs
from lucene_solr_spark.streaming.incremental import start_incremental_index

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("analyzer", ["standard_py", "Standard", "whitespace", ""])
def test_tokenized_docs_rejects_unknown_analyzer(spark, analyzer):
    df = spark.createDataFrame([("c", 0, "Hello world")], "conv_id string, turn_idx int, text string")
    with pytest.raises(ValueError, match="'standard', 'simple'"):
        tokenized_docs(df, analyzer=analyzer)


def test_incremental_index_rejects_unknown_analyzer(spark, tmp_path):
    with pytest.raises(ValueError, match="'standard', 'simple'"):
        start_incremental_index(
            spark, str(tmp_path / "src"), str(tmp_path / "idx"),
            "conv_id string, turn_idx int, text string", analyzer="standrad",
        )


def test_index_job_rejects_unknown_analyzer(tmp_path):
    out = subprocess.run(
        [sys.executable, f"{ROOT}/scripts/index_job.py", "--input", str(tmp_path),
         "--index", str(tmp_path / "idx"), "--analyzer", "standrad"],
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 2
    assert "invalid choice: 'standrad'" in out.stderr
