"""The session-fixture memo (``dust_spark.fixtures``): stopped-session
eviction and the census."""

from __future__ import annotations

from types import SimpleNamespace

from dust_spark import fixtures
from dust_spark.queries_tierc import warm_shared_fixtures
from tests.conftest import SF_DIR


class _StoppedSession:
    sparkContext = SimpleNamespace(_jsc=None)


def test_miss_evicts_only_stopped_sessions(spark):
    fixtures.memo(spark, ("eviction_live",), object)
    live_keys = set(fixtures._registry[spark])
    stopped = _StoppedSession()
    fixtures._registry[stopped] = {("eviction_stale",): fixtures._Entry(object(), 0.0)}

    fixtures.memo(spark, ("eviction_miss", object()), object)

    assert stopped not in fixtures._registry
    assert live_keys <= set(fixtures._registry[spark])


def test_census_counts_shared_fixture_hits(spark):
    warm_shared_fixtures(spark, SF_DIR)
    warm_shared_fixtures(spark, SF_DIR)
    hits: dict[str, int] = {}
    for record in fixtures.census():
        hits[record["tag"]] = max(hits.get(record["tag"], 0), record["hits"])
    shared = ("documents", "embeddings", "ngram_pairs", "xx", "portable", "grampairs")
    assert all(hits.get(tag, 0) >= 1 for tag in shared), hits
