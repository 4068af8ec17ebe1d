"""Session factory: the executor warm-up."""

from orc_rs_spark.session import _prewarm_workers


class _NoExecutors:
    """A session whose warm-up job fails."""

    def range(self, *args, **kwargs):
        raise RuntimeError("no executors")


def test_failed_prewarm_is_not_marked_done(monkeypatch):
    """A failed warm-up must leave the session unmarked, so the next
    get_spark call on it tries again instead of skipping the warm-up."""
    monkeypatch.delenv("ORC_RS_PREWARM", raising=False)
    s = _NoExecutors()
    _prewarm_workers(s, 2)  # never raises: session creation must not break
    assert not getattr(s, "_orc_rs_prewarmed", False)
