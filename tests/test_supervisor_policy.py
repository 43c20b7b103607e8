"""The stream supervisor's restart policy on a fake Spark session and a
fake clock: no JVM, no server, no real sleeping.

``restart.time`` is replaced by a clock that only moves when the
supervisor sleeps, so every backoff wait is an exact, observable gap
between two sink attachments.
"""

from __future__ import annotations

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException
from pyspark.sql import types as T

from maxscale_cdc_connector_spark.streaming import restart


class _Failure(StreamingQueryException):
    """A query failure as the driver sees it, built without a JVM."""

    def __init__(self, text: str):
        Exception.__init__(self, text)
        self._text = text

    def __str__(self) -> str:
        return self._text


def _lost() -> _Failure:
    return _Failure("java.net.ConnectException: Connection refused")


class _Clock:
    """Stands in for the ``time`` module: sleeping advances it."""

    def __init__(self) -> None:
        self.now = 0.0

    def time(self) -> float:
        return self.now

    def sleep(self, seconds: float) -> None:
        self.now += seconds


class _Query:
    """A started query that stays active for ``run_s`` clock seconds,
    then terminates with ``failure`` (``None``: cleanly). ``progressed``
    says whether it completed a micro-batch first."""

    def __init__(self, clock: _Clock, failure, progressed: bool, run_s: float = 0.0):
        self._clock = clock
        self._failure = failure
        self._until = clock.now + run_s
        self.lastProgress = {"batchId": 0} if progressed else None

    @property
    def isActive(self) -> bool:
        return self._clock.now < self._until

    def exception(self):
        return None if self.isActive else self._failure

    def awaitTermination(self, timeout=None):
        if self._failure is not None:
            raise self._failure
        return True

    def stop(self) -> None:
        self._until = self._clock.now


class _Spark:
    """``spark.readStream.format(..).options(..).load()`` → a frame."""

    schema = T.StructType([T.StructField("id", T.LongType())])

    @property
    def readStream(self):
        return self

    def format(self, _name: str):
        return self

    def options(self, **_opts: str):
        return self

    def load(self):
        return self


def _attach(clock: _Clock, *plans: tuple):
    """An ``attach_sink`` that starts one :class:`_Query` per plan, in
    order, and records the clock at each start."""
    starts: list[float] = []
    todo = iter(plans)

    def attach(_df):
        starts.append(clock.now)
        return _Query(clock, *next(todo))

    return attach, starts


def test_backoff_resets_after_a_completed_batch(monkeypatch) -> None:
    clock = _Clock()
    monkeypatch.setattr(restart, "time", clock)
    attach, starts = _attach(
        clock,
        (_lost(), False),
        (_lost(), False),
        (_lost(), True),  # completed a batch before the loss
        (_lost(), False),
        (None, True),
    )
    restarts = restart.run_supervised(
        _Spark(),
        {"table": "db.t"},
        attach,
        max_restarts=10,
        initial_backoff=1.0,
        max_backoff=60.0,
        timeout=600.0,
    )
    assert restarts == 4
    waits = [b - a for a, b in zip(starts, starts[1:])]
    # Losses inside a first batch keep doubling (1, 2); the query that
    # completed a batch starts the next wait from initial_backoff again
    # (1), and doubling resumes from there (2). A wait may also include
    # the monitor's poll that notices the loss.
    assert waits == pytest.approx([1.0, 2.0, 1.0, 2.0], abs=0.5)


@pytest.mark.parametrize("kwargs", [{}, {"timeout": None}], ids=["default", "none"])
def test_no_deadline_without_timeout(monkeypatch, kwargs) -> None:
    clock = _Clock()
    monkeypatch.setattr(restart, "time", clock)
    # Far past any fixed default deadline, the stream still runs until it
    # terminates on its own.
    attach, _ = _attach(clock, (_lost(), True, 500.0), (None, True, 5000.0))
    assert restart.run_supervised(_Spark(), {"table": "db.t"}, attach, **kwargs) == 1
    assert clock.now >= 5000.0
