"""Session helpers: the required-conf pin and literal DataFrames."""

import logging

from hive_cassandra_spark.session import (
    _REQUIRED_RUNTIME_CONF,
    ensure_session_confs,
)


def test_ensure_session_confs_warns_on_refused_conf(caplog):
    """A deployment that refuses a correctness-critical conf does not
    fail the query, but each refusal is logged with the key, the wanted
    value and the error."""

    class RefusingConf:
        def get(self, key, default=None):
            return default

        def set(self, key, value):
            raise RuntimeError(f"cannot modify {key}")

    class StubSession:
        conf = RefusingConf()

    with caplog.at_level(logging.WARNING, logger="hive_cassandra_spark"):
        ensure_session_confs(StubSession())
    warned = [r.getMessage() for r in caplog.records
              if r.levelno == logging.WARNING]
    assert len(warned) == len(_REQUIRED_RUNTIME_CONF)
    for (key, want), msg in zip(_REQUIRED_RUNTIME_CONF.items(), warned):
        assert key in msg and want in msg
        assert f"cannot modify {key}" in msg
