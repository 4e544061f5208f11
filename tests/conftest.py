from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import lazyosm_spark  # noqa: E402

# the suite must test the checkout it lives in, not an installed or
# sibling copy that happens to come first on sys.path
assert os.path.abspath(lazyosm_spark.__file__).startswith(ROOT + os.sep), (
    f"lazyosm_spark imported from {lazyosm_spark.__file__}, outside {ROOT}"
)


@pytest.fixture(scope="session")
def spark():
    from lazyosm_spark import get_spark

    s = get_spark(
        app="tests",
        cpus=8,
        driver_memory="8g",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s


@pytest.fixture(scope="session")
def fx(spark):
    from lazyosm_spark.sources.fixtures import load_fixtures

    return load_fixtures(spark, "tiny")


@pytest.fixture(scope="session")
def enc(spark):
    """The tiny fixture shard's block frames (read_pbf's ``*_encoded``)."""
    from lazyosm_spark.sources.fixtures import fixture_pbf

    return fixture_pbf(spark, "tiny")
