import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ferenda_spark.session import get_spark
    s = get_spark("ferenda_spark_tests", master="local[4]",
                  shuffle_partitions=8)
    yield s


def pytest_terminal_summary(terminalreporter):
    """A skipped test is a gap, not a pass: print the skip count grouped
    by reason so the tier-1 record tracks it."""
    skipped = terminalreporter.stats.get("skipped", [])
    if not skipped:
        return
    by_reason: dict = {}
    for rep in skipped:
        reason = rep.longrepr[2] if isinstance(rep.longrepr, tuple) \
            else str(rep.longrepr)
        by_reason[reason] = by_reason.get(reason, 0) + 1
    terminalreporter.write_sep("=", "%d skipped, by reason" % len(skipped))
    for reason, count in sorted(by_reason.items(), key=lambda kv: -kv[1]):
        terminalreporter.write_line("%4d  %s" % (count, reason))
