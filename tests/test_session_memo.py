"""session_cached (diepy_spark/session.py) and the process-scoped
scratch-file memo of plans/pipeline.py against stub sessions: objects
with only `sparkContext.applicationId`, so no SparkContext starts."""

from types import SimpleNamespace

import pytest

from diepy_spark import session


def _stub(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture(autouse=True)
def fresh_memo(monkeypatch):
    """Each test starts from an empty memo; the real one is restored after."""
    monkeypatch.setattr(session, "_memo", {})
    monkeypatch.setattr(session, "_memo_app", None)


@pytest.fixture
def memo():
    """A decorated builder that records each build."""
    builds = []

    @session.session_cached
    def build(spark, x, scale=1):
        builds.append((spark.sparkContext.applicationId, x, scale))
        return [x * scale]

    return build, builds


def test_equal_arguments_build_once(memo):
    build, builds = memo
    s = _stub("app-1")
    first = build(s, 3)
    assert build(s, 3) is first
    assert build(_stub("app-1"), 3) is first  # same application, new handle
    assert builds == [("app-1", 3, 1)]


def test_different_arguments_build_separately(memo):
    build, builds = memo
    s = _stub("app-1")
    assert build(s, 3) == [3]
    assert build(s, 4) == [4]
    assert build(s, 3, 2) == [6]
    assert build(s, 3) == [3]
    assert builds == [("app-1", 3, 1), ("app-1", 4, 1), ("app-1", 3, 2)]


def test_new_application_id_rebuilds_and_drops_old_entries(memo):
    build, builds = memo
    old = build(_stub("app-1"), 3)
    build(_stub("app-1"), 4)
    assert len(session._memo) == 2
    new = build(_stub("app-2"), 3)
    assert new == old and new is not old
    assert builds[-1] == ("app-2", 3, 1)
    # only the new application's one entry is left
    assert session._memo_app == "app-2"
    assert list(session._memo.values()) == [new]


def test_failed_build_stores_nothing():
    calls = []

    @session.session_cached
    def flaky(spark, x):
        calls.append(x)
        if len(calls) == 1:
            raise RuntimeError("build failed")
        return x

    s = _stub("app-1")
    with pytest.raises(RuntimeError):
        flaky(s, 1)
    assert session._memo == {}
    assert flaky(s, 1) == 1
    assert calls == [1, 1]


@pytest.fixture
def scratch(monkeypatch):
    """An empty pipeline scratch memo and a builder factory that records
    each build as (name, application, sf_dir)."""
    from diepy_spark.plans import pipeline

    monkeypatch.setattr(pipeline, "_scratch_cache", {})
    builds = []

    def builder(name, fail_first=False):
        @pipeline._scratch_file(name)
        def build(spark, sf_dir):
            builds.append((name, spark.sparkContext.applicationId, sf_dir))
            if fail_first and len(builds) == 1:
                raise ValueError("audit failed")  # as t7's WAP audit raises
            return f"/scratch/{name}/{sf_dir}/{len(builds)}"

        return build

    return pipeline, builder, builds


def test_scratch_file_builds_once_per_name_and_dir(scratch):
    pipeline, builder, builds = scratch
    a, b = builder("a"), builder("b")
    s = _stub("app-1")
    assert a(s, "sf1") == "/scratch/a/sf1/1"
    assert a(s, "sf2") == "/scratch/a/sf2/2"
    assert b(s, "sf1") == "/scratch/b/sf1/3"
    assert builds == [("a", "app-1", "sf1"), ("a", "app-1", "sf2"), ("b", "app-1", "sf1")]
    assert set(pipeline._scratch_cache) == {("a", "sf1"), ("a", "sf2"), ("b", "sf1")}


def test_scratch_file_second_call_reuses_path_across_sessions(scratch):
    _, builder, builds = scratch
    a = builder("a")
    first = a(_stub("app-1"), "sf1")
    assert a(_stub("app-1"), "sf1") == first
    # files outlive sessions: a new application reads the same path
    assert a(_stub("app-2"), "sf1") == first
    assert builds == [("a", "app-1", "sf1")]


def test_scratch_file_failed_build_stores_nothing(scratch):
    pipeline, builder, builds = scratch
    a = builder("wap", fail_first=True)
    s = _stub("app-1")
    with pytest.raises(ValueError, match="audit failed"):
        a(s, "sf1")
    assert pipeline._scratch_cache == {}
    assert a(s, "sf1") == "/scratch/wap/sf1/2"
    assert len(builds) == 2
