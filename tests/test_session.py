"""Session factory: the Python-worker prewarm runs once per Spark
application."""

from types import SimpleNamespace

from kernel_memory_spark import session


class _StubSession:
    """Just enough of a SparkSession for the prewarm: an application id
    and a `range` that counts calls (and fails, as prewarm tolerates)."""

    def __init__(self, app_id):
        self.sparkContext = SimpleNamespace(
            applicationId=app_id, defaultParallelism=2
        )
        self.range_calls = 0

    def range(self, *args, **kwargs):
        self.range_calls += 1
        raise RuntimeError("stub session runs no jobs")


class TestPrewarmKey:
    def test_keyed_on_application_id(self, monkeypatch):
        monkeypatch.setattr(session, "_PREWARMED", set())
        first = _StubSession("local-1")
        session._prewarm_python_workers(first)
        session._prewarm_python_workers(first)
        assert first.range_calls == 1
        # another session object of the same application: already warm
        same_app = _StubSession("local-1")
        session._prewarm_python_workers(same_app)
        assert same_app.range_calls == 0
        # a new application (the old session was stopped) warms again,
        # whatever its Python object id
        restarted = _StubSession("local-2")
        session._prewarm_python_workers(restarted)
        assert restarted.range_calls == 1
