import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine.session import get_spark
from tools.query_profile import keep_every_stage

# Slow-test manifest (see pytest.ini): node ids measured >= 4 s on a
# quiet host get the `slow` marker at collection time and are
# deselected by the default `-m "not slow"` addopts. Keeping the list
# in a data file (not 124 scattered decorators) makes the cut
# reproducible from a --durations=0 run:
#   grep -E '^[0-9.]+s call' durations.log | awk '$1+0>=4 {print $3}'
_SLOW_MANIFEST = os.path.join(os.path.dirname(__file__), "slow_tests.txt")


def pytest_collection_modifyitems(config, items):
    try:
        with open(_SLOW_MANIFEST) as f:
            slow = {ln.strip() for ln in f if ln.strip()}
    except OSError:
        return
    for item in items:
        # nodeid is repo-relative ("tests/test_x.py::test_y[param]")
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slow)

REFDATA = "/root/reference/tests/testdata"
SF_SMOKE = "/root/testdata/sf0.001"
SF_CHECK = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # test_query_profile.py reads status-store windows after about
    # 4,500 stages of earlier tests (6,000 by the end of the suite)
    keep_every_stage()
    s = get_spark("tests", shuffle_partitions=8)
    yield s
