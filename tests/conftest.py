from __future__ import annotations

import pytest

# the session conf the ``spark`` fixture starts from; empty until it runs
_BASE_CONF: dict[str, str] = {}


@pytest.fixture(scope="session")
def spark():
    from kg.session import get_spark

    s = get_spark(master="local[4]", app_name="kg-tests", shuffle_partitions=8)
    _BASE_CONF.update(s.conf.getAll)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _reset_session_conf():
    """Give every test the session conf the ``spark`` fixture made.

    ``CheckpointedPipeline`` sets dynamic partition overwrite on the shared
    session, and tests set confs of their own (shuffle partitions among
    them). Left in place, every later test inherits them; stateful
    streaming tests, whose state-store count follows the shuffle
    partitions, run 3-6x slower at 32 partitions than at 8."""
    yield
    if not _BASE_CONF:
        return
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return
    now = s.conf.getAll
    for k in now.keys() | _BASE_CONF.keys():
        want = _BASE_CONF.get(k)
        if now.get(k) == want or not s.conf.isModifiable(k):
            continue
        if want is None:
            s.conf.unset(k)
        else:
            s.conf.set(k, want)
