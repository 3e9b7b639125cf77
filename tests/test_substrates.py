"""The session-substrate memo (``sources.substrate``) and its registry.

The first four tests need no JVM: a fake session carries only
``sparkContext.applicationId`` and the source table is a plain file.
"""

from __future__ import annotations

import inspect
import os
from types import SimpleNamespace

import pytest

from database_migrator_spark.sources import tables

from .conftest import SF_SMOKE


def _fake_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture()
def counted(monkeypatch, tmp_path):
    """A substrate over ``tmp_path/documents.parquet`` that counts its
    builds, registered in a throwaway registry and memo."""
    monkeypatch.setattr(tables, "SUBSTRATES", {})
    monkeypatch.setattr(tables, "_MEMO", {})
    (tmp_path / "documents.parquet").write_bytes(b"v1")
    builds = []

    @tables.substrate("probe", "documents")
    def probe(spark, sf_dir):
        builds.append(spark.sparkContext.applicationId)
        return object()

    return probe, builds, str(tmp_path)


def test_second_call_returns_memoized_object(counted):
    probe, builds, sf = counted
    spark = _fake_spark("app-1")
    first = probe(spark, sf)
    assert probe(spark, sf) is first
    assert probe(spark, sf + os.sep) is first  # same source file, other spelling
    assert builds == ["app-1"]
    assert tables.SUBSTRATES == {"probe": probe}


def test_new_application_evicts_old_entries(counted):
    probe, builds, sf = counted
    old = probe(_fake_spark("app-1"), sf)
    new = probe(_fake_spark("app-2"), sf)
    assert new is not old
    assert builds == ["app-1", "app-2"]
    assert all(stamp[0] == "app-2" for stamp, _ in tables._MEMO.values())


def test_rewritten_source_rebuilds(counted):
    probe, builds, sf = counted
    spark = _fake_spark("app-1")
    first = probe(spark, sf)
    src = os.path.join(sf, "documents.parquet")
    with open(src, "wb") as fh:
        fh.write(b"version 2")  # size changes
    second = probe(spark, sf)
    assert second is not first
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))  # mtime only
    assert probe(spark, sf) is not second
    assert len(builds) == 3


def test_every_substrate_takes_spark_and_sf_dir():
    from database_migrator_spark.plans.registry import all_queries

    all_queries()  # importing the operator modules registers the substrates
    assert set(tables.SUBSTRATES) == {
        "ivf", "bpe", "pq", "cc", "gram", "tf", "daywords", "dense", "sketch",
    }
    for name, build in tables.SUBSTRATES.items():
        assert list(inspect.signature(build).parameters) == ["spark", "sf_dir"], name


def test_ivf_index_lives_under_scratch_root(spark):
    from database_migrator_spark import scratch
    from database_migrator_spark.operators.similarity import _ivf_index_cached

    index_dir = _ivf_index_cached(spark, SF_SMOKE)
    assert index_dir.startswith(scratch._root() + os.sep)
    assert os.path.isdir(os.path.join(index_dir, "centroids"))


def test_trailing_slash_reuses_components(spark):
    from database_migrator_spark.operators.dedup import neardup_components_cached

    first = neardup_components_cached(spark, SF_SMOKE)
    sc = spark.sparkContext
    group = "substrate-trailing-slash"
    sc.setJobGroup(group, group)
    try:
        again = neardup_components_cached(spark, SF_SMOKE + "/")
    finally:
        sc._jsc.clearJobGroup()  # noqa: SLF001
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)  # noqa: SLF001
    assert again is first
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
