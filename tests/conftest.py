from __future__ import annotations

import os

import pytest

from java_iceberg_table_spark.oracle import duck_connect
from java_iceberg_table_spark.session import get_spark

# sf0.001 for fast local iteration; the driver's gate runs sf0.01.
# Override with SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests")
    yield spark


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()


@pytest.fixture()
def lose_next_cas(monkeypatch):
    """Arm one lost CAS race: after ``lose_next_cas(rival)`` the next
    ``format.try_commit_version`` call first runs ``rival(root)`` — a
    rival commit that lands — and then raises CommitConflict; every
    other call publishes normally. Without ``rival`` the rival commit
    is a no-op version bump of the same table. Returns the list of
    roots whose CAS was lost, for the test to assert the race ran."""
    from dataclasses import replace

    from java_iceberg_table_spark.table import format as fmt

    real = fmt.try_commit_version
    armed: list = []
    lost: list[str] = []

    def bump(root):
        cur = fmt.load_metadata(root)
        real(root, replace(cur, version=cur.version + 1))

    def racing(root, meta):
        if not armed:
            return real(root, meta)
        rival = armed.pop() or bump
        rival(root)
        lost.append(root)
        raise fmt.CommitConflict("lost the CAS race to a rival commit")

    monkeypatch.setattr(fmt, "try_commit_version", racing)

    def arm(rival=None) -> list[str]:
        armed.append(rival)
        return lost

    return arm


def pytest_collection_modifyitems(config, items):
    """Apply the `slow` marker from tests/slow_tests.txt (see
    pytest.ini): a data-driven list generated from a full
    --durations=0 run, so the default profile stays inside the
    external driver's verify budget."""
    listing = os.path.join(os.path.dirname(__file__), "slow_tests.txt")
    try:
        with open(listing) as f:
            slow_ids = {
                line.strip()
                for line in f
                if line.strip() and not line.startswith("#")
            }
    except OSError:
        return
    for item in items:
        nodeid = item.nodeid.replace(os.sep, "/")
        if nodeid in slow_ids:
            item.add_marker(pytest.mark.slow)
