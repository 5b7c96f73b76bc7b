from __future__ import annotations

import pandas as pd
import pytest

from bibexpy_spark import corpus, oracle
from bibexpy_spark.session import build_spark


@pytest.fixture(scope="session")
def spark():
    # the fixtures are small: a 4 GiB driver heap (build_spark defaults to
    # 48g) keeps lazy heap growth from outrunning a 16 GB host mid-suite
    s = build_spark(app_name="bibexpy_spark_tests", cores=8,
                    extra_conf={"spark.sql.shuffle.partitions": "8",
                                "spark.driver.memory": "4g"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def turns_pd() -> pd.DataFrame:
    return corpus.generate_transcripts(200, seed=42)


@pytest.fixture(scope="session")
def conv_pd(turns_pd) -> pd.DataFrame:
    return oracle.assemble(turns_pd)


@pytest.fixture(scope="session")
def golden(turns_pd):
    pairs, clusters = oracle.golden_fixtures(turns_pd)
    return {"pairs": pairs, "clusters": clusters}


@pytest.fixture(scope="session")
def turns_df(spark, turns_pd):
    return spark.createDataFrame(turns_pd)
