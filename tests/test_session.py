"""session.tune on a session it did not create (Spark-free fake): a conf
the session refuses is logged by key, and the remaining confs still land."""

from __future__ import annotations

import logging

from kinesis3_spark import session


class _Conf:
    def __init__(self, refused: str):
        self.refused = refused
        self.values: dict[str, str] = {}

    def set(self, k, v):
        if k == self.refused:
            raise RuntimeError(f"Cannot modify the value of a static config: {k}")
        self.values[k] = v


class _FakeSession:
    def __init__(self, refused: str):
        self.conf = _Conf(refused)


def test_tune_logs_a_refused_conf_and_sets_the_rest(caplog):
    refused = "spark.sql.session.timeZone"
    fake = _FakeSession(refused)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.tune(fake) is fake
    assert [r.levelno for r in caplog.records] == [logging.WARNING]
    assert refused in caplog.records[0].getMessage()
    assert set(fake.conf.values) == set(session._RUNTIME_CONFS) - {refused}
    assert fake._kinesis3_tuned
