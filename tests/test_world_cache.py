"""The content-addressed parquet dimension cache must be transparent:
identical dim content on miss, hit, and disabled paths, and a second call
must read the cached tables instead of rebuilding — without a Spark job."""

from __future__ import annotations

import os

from wikidata_to_cidoc_crm_spark.fixtures import (
    _DIM_SCHEMAS,
    _world_digest,
    make_world,
    world_to_spark,
)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cache_roundtrip_equals_direct(spark, tmp_path, monkeypatch):
    w = make_world(n_persons=3, n_works=4)
    monkeypatch.setenv("SPARK_GRAFT_WORLD_CACHE", str(tmp_path))
    cached = world_to_spark(spark, w)  # miss: populates
    assert os.path.exists(
        os.path.join(tmp_path, _world_digest(w), "_COMPLETE"))
    hit = world_to_spark(spark, w)  # hit: reads back
    direct = world_to_spark(spark, w, cache=False)
    for name in _DIM_SCHEMAS:
        rows = _sorted_rows(direct[name])
        assert _sorted_rows(cached[name]) == rows, name
        assert _sorted_rows(hit[name]) == rows, name


def test_digest_tracks_content(spark):
    a = make_world(n_persons=3, n_works=4)
    b = make_world(n_persons=3, n_works=4)
    c = make_world(n_persons=4, n_works=4)
    assert _world_digest(a) == _world_digest(b)  # deterministic generation
    assert _world_digest(a) != _world_digest(c)  # content-addressed


def test_opening_the_cache_launches_no_jobs(spark, tmp_path, monkeypatch):
    """A hit reads each table with its known schema; inferring it from the
    Parquet footers would run one job per table. The reads run on pool
    threads, which carry no job group, so the check is over ungrouped jobs."""
    w = make_world(n_persons=3, n_works=4)
    monkeypatch.setenv("SPARK_GRAFT_WORLD_CACHE", str(tmp_path))
    world_to_spark(spark, w)  # miss: populates
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    world_to_spark(spark, w)  # hit
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
