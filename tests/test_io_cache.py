"""Session-lifetime guards for the io.table read-plan memo (opt r12,
VERDICT r11 #8): the r11 cache pinned a strong reference to every session
forever; now stopped sessions' entries are swept and the session object
becomes collectable, while id-reuse safety is preserved (entries are
evicted before the id can be handed to a new session)."""

from __future__ import annotations

import gc
import warnings
import weakref

import pytest

from limeqo_spark import io as lio


class _FakeCtx:
    def __init__(self):
        self._jsc = object()


class _FakeSession:
    def __init__(self):
        self.sparkContext = _FakeCtx()

    def stop(self):
        self.sparkContext._jsc = None


class _FakePlan:
    """Mimics a cached DataFrame: holds a strong ref to its session."""

    def __init__(self, sess):
        self.sparkSession = sess


def test_stopped_session_entries_are_swept_and_collectable():
    sess = _FakeSession()
    sid = id(sess)
    lio._TABLE_PLAN_CACHE[sid] = {("p", 1.0): _FakePlan(sess)}
    ref = weakref.ref(sess)

    # live session: sweep keeps it
    lio._sweep_stopped_sessions()
    assert sid in lio._TABLE_PLAN_CACHE

    sess.stop()
    lio._sweep_stopped_sessions()
    assert sid not in lio._TABLE_PLAN_CACHE

    del sess
    gc.collect()
    assert ref() is None, "cache must not keep a stopped session alive"


def test_real_session_plans_are_cached_per_session(spark, sf_dir):
    df1 = lio.table(spark, sf_dir, "nation")
    df2 = lio.table(spark, sf_dir, "nation")
    assert df1 is df2  # memo hit: same unresolved plan object
    assert id(spark) in lio._TABLE_PLAN_CACHE


def test_confs_pinned_id_released_on_collection():
    sess = _FakeSession()
    sid = id(sess)
    lio._track_session(sess, lio._CONFS_PINNED, sid)
    assert sid in lio._CONFS_PINNED
    del sess
    gc.collect()
    assert sid not in lio._CONFS_PINNED


def test_stop_probe_failure_warns_once_and_reads_as_stopped(monkeypatch):
    """Only a missing private ``_jsc`` handle is tolerated: it reads as a
    stopped session, with a single warning across calls."""
    monkeypatch.setattr(lio, "_STOP_PROBE_WARNED", False)

    class _NoHandle:
        sparkContext = object()

    with pytest.warns(RuntimeWarning, match="stopped-session probe failed"):
        assert lio._session_stopped(_NoHandle())
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert lio._session_stopped(_NoHandle())


def test_stop_probe_does_not_swallow_other_errors():
    class _Broken:
        @property
        def sparkContext(self):
            raise RuntimeError("py4j gateway gone")

    with pytest.raises(RuntimeError):
        lio._session_stopped(_Broken())
