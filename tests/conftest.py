import os

import pytest

from boatrace_database_spark.session import get_spark

REFERENCE = "/root/reference"


def pytest_collection_modifyitems(config, items):
    """Tests marked ``requires_reference`` read the committed reference
    tree; skip them, with the reason stated, on hosts without it."""
    if os.path.isdir(REFERENCE):
        return
    skip = pytest.mark.skip(
        reason=f"needs {REFERENCE} (reference tree not on this host)"
    )
    for item in items:
        if "requires_reference" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("boatrace-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
