from __future__ import annotations

import pandas as pd
import pytest

from curator_spark.config import QualityConfig
from curator_spark.engine.session import get_spark
from curator_spark.engine.synth import write_pages
from curator_spark.oracle.quality_oracle import run_oracle

N_SMALL = 1200


@pytest.fixture(scope="session")
def spark():
    # one task slot per CPU the suite may use (engine.session.default_cores)
    s = get_spark("curator-spark-tests", shuffle_partitions=16)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_path(spark, tmp_path_factory) -> str:
    path = str(tmp_path_factory.mktemp("data") / "pages")
    write_pages(spark, path, N_SMALL)
    return path


@pytest.fixture(scope="session")
def pages_pd(pages_path) -> pd.DataFrame:
    return pd.read_parquet(pages_path)


@pytest.fixture(scope="session")
def cfg() -> QualityConfig:
    return QualityConfig()


@pytest.fixture(scope="session")
def golden_path(pages_pd, cfg, tmp_path_factory) -> str:
    """Golden labels written ONCE by the oracle (reference golden-hash
    pattern, tests/integrations/test_all.py:58-61) and re-read from disk
    so comparisons are against independently stored bytes."""
    out = run_oracle(pages_pd[["url", "text"]], cfg)
    path = str(tmp_path_factory.mktemp("golden") / "golden_labels.parquet")
    out.to_parquet(path, index=False)
    return path


@pytest.fixture(scope="session")
def golden(golden_path) -> pd.DataFrame:
    return pd.read_parquet(golden_path)
