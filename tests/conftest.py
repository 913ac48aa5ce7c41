from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pipeline_dataengineer_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4)
    yield s


SF_DIR = "/root/testdata/sf0.001"
