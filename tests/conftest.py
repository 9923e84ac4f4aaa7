from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from gcp_dbt_data_engineering_spark import get_spark

    s = get_spark(app_name="pytest", shuffle_partitions=8, master="local[8]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def nasty_corpus() -> str:
    """The adversarial corpus of ``tools/make_nasty.py``, built on first use."""
    import subprocess

    from gcp_dbt_data_engineering_spark import ARTIFACTS_DIR

    corpus = os.path.join(ARTIFACTS_DIR, "sf0.01_nasty")
    if not os.path.exists(os.path.join(corpus, "events.parquet")):
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "make_nasty.py")],
            check=True,
        )
    return corpus

