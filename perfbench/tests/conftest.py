from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)
os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


@pytest.fixture(scope="session")
def spark():
    from slowfast_feature_extractor_spark.session import get_spark

    return get_spark(app_name="perfbench-tests", cpus=2)
