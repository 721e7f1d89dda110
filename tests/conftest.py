from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gomrjob_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def frame_digest(df) -> str:
    """Order-independent sha256 of a frame's rows: each row is digested
    as JSON, and the sorted row digests are hashed together."""
    from pyspark.sql import functions as F

    rows = df.select(F.sha2(F.to_json(F.struct(*df.columns)), 256)).collect()
    return hashlib.sha256("".join(sorted(r[0] for r in rows)).encode()).hexdigest()


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="gomrjob_spark_tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMOKE)
