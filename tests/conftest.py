from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from near_duplicate_detection_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # the engine's default driver heap (64g, sized for a 32-core host) lets
    # the one session JVM grow past a 16 GiB host's memory over the full
    # suite, and the kernel then kills it mid-run; under a 6g heap the
    # suite peaked at 4.3-4.7 GB resident. An explicit setting still wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    s = get_spark(app_name="ndd-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmp_catalog_dir(tmp_path):
    d = str(tmp_path / "catalog")
    yield d
    shutil.rmtree(d, ignore_errors=True)
