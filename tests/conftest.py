import pytest

from comet_spark.session import get_spark

SF_DIR_SMALL = "/root/testdata/sf0.001"
SF_DIR_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("comet-spark-tests")
    yield s
    s.stop()


class _RenameCrash:
    """Context manager: ``_FS.rename`` raises ``RuntimeError`` right
    after its ``k``-th call (the rename itself has happened — a crash
    between that rename and the next step). The injected error is
    swallowed, also when Spark wraps it (a crash inside a streaming
    ``foreachBatch`` surfaces as ``StreamingQueryException``);
    ``completed`` records a run that finished before the ``k``-th
    rename, i.e. ``k`` exceeded the protocol's renames."""

    def __init__(self, k: int):
        self.k = k
        self.completed = False

    def __enter__(self):
        import comet_spark.storage.store as store_mod

        real_rename = self._real = store_mod._FS.rename
        calls = {"n": 0}

        def inject(fs, src, dst):
            ok = real_rename(fs, src, dst)
            calls["n"] += 1
            if calls["n"] == self.k:
                raise RuntimeError("injected crash")
            return ok

        store_mod._FS.rename = inject
        return self

    def __exit__(self, exc_type, exc, tb):
        import comet_spark.storage.store as store_mod

        store_mod._FS.rename = self._real
        self.completed = exc_type is None
        return exc is not None and "injected crash" in str(exc)


def rename_crash_points(limit: int):
    """Crash sweep over every ``_FS.rename`` of a protocol: yields
    ``(k, crash)`` for k = 1, 2, ...; run the operation under
    ``with crash:`` (it crashes right after its k-th rename), then heal
    and check. The sweep ends after the first run that completes
    without reaching its k-th rename, and fails if that takes ``limit``
    crash points."""
    k = 0
    while True:
        k += 1
        assert k < limit, "crash sweep did not terminate"
        crash = _RenameCrash(k)
        yield k, crash
        if crash.completed:
            return
