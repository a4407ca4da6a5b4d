"""Cache lifetime: ``release_caches()`` is the one cleanup point. After
it the session holds no persisted RDD (``localCheckpoint`` blocks
included) and no cached Dataset, whether the query succeeded or raised
after persisting."""

import pytest

from data_engineering_bootcamp_spark.operators.dedup import release_caches
from data_engineering_bootcamp_spark.plans import catalog_rank
from data_engineering_bootcamp_spark.plans.catalog import QUERIES


def _held(spark) -> tuple[int, bool]:
    """(persisted RDDs, whether the CacheManager holds any Dataset)."""
    rdds = len(spark.sparkContext._jsc.getPersistentRDDs())
    cached = not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    return rdds, cached


@pytest.mark.parametrize(
    "name",
    [
        "neardup_clusters",
        "pagerank_parts",
        "pipeline_replay_31d",
        "doc_lang_id_learned",
    ],
)
def test_release_caches_empties_session(spark, sf_dir, name):
    QUERIES[name](spark, sf_dir).collect()
    assert _held(spark) != (0, False), f"{name} persisted nothing"
    release_caches()
    assert _held(spark) == (0, False)


def test_release_caches_after_raise(spark, sf_dir, monkeypatch):
    # no doc_id hashes below 0x00000000: the train half is empty, so the
    # query raises after its token stream is persisted and counted
    monkeypatch.setattr(catalog_rank, "NBL_SPLIT_HEX", "00000000")
    with pytest.raises(ValueError, match="empty train half"):
        catalog_rank.q_doc_lang_id_learned(spark, sf_dir)
    assert _held(spark) != (0, False)
    release_caches()
    assert _held(spark) == (0, False)
