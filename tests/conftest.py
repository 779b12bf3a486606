from __future__ import annotations

import pytest

from polars_text_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        "polars-text-spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


def pytest_collection_modifyitems(config, items):
    """Two-tier suite (round 17, VERDICT r16 #2): the heavy lifecycle/
    property/parity tests listed in tests/slow_tests.txt are marked
    ``slow`` and deselected by the default ``addopts = -m "not slow"``
    so the default invocation (the driver's verify window) finishes in
    ~12 min while still exercising every operator (every test file
    keeps at least one fast test). Run the FULL suite with:

        python -m pytest tests/ -m "slow or not slow"
    """
    import os

    manifest = os.path.join(os.path.dirname(__file__), "slow_tests.txt")
    if not os.path.exists(manifest):
        return
    with open(manifest) as fh:
        slow = {line.strip() for line in fh if line.strip()}
    # files selected by node id (``file.py::test``) were not collected
    # whole: their unselected entries are not stale
    here = config.invocation_params.dir
    partial = {
        os.path.realpath(os.path.join(here, arg.split("::")[0]))
        for arg in config.args if "::" in arg
    }
    seen, files = set(), set()
    for item in items:
        nodeid = item.nodeid
        if nodeid.startswith("tests/"):
            nodeid = nodeid[len("tests/"):]
        if os.path.realpath(item.path) not in partial:
            files.add(nodeid.split("::")[0])
        if nodeid in slow:
            item.add_marker(pytest.mark.slow)
            seen.add(nodeid)
    # an entry naming a test of a file collected whole that matches no
    # item (renamed, deleted, or listed without its parameters) would
    # silently move that test between tiers
    stale = sorted(
        e for e in slow - seen if e.split("::")[0] in files
    )
    if stale:
        import warnings

        warnings.warn(
            "tests/slow_tests.txt entries match no collected test: "
            + ", ".join(stale)
        )
