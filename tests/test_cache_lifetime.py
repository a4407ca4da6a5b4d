"""A catalog query leaves nothing behind, whether it succeeds or fails.

Caches: ``release_caches()`` is the one cleanup point. After it the
session holds no persisted RDD (``localCheckpoint`` blocks included)
and no cached Dataset, whether the query succeeded or raised after
persisting. Scratch dirs and streams: a streaming entry whose stream
fails to start leaves no scratch dir and no active query. Views: a
memory-sink entry leaves the session's temp views as it found them."""

import os
import tempfile

import pytest
from pyspark.sql.streaming import DataStreamWriter

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


@pytest.mark.parametrize(
    "name", sorted(n for n in QUERIES if n.startswith("streaming_"))
)
def test_streaming_entry_leaves_nothing_when_start_fails(
    spark, sf_small, tmp_path, monkeypatch, name
):
    def refuse(self, *args, **kwargs):
        raise RuntimeError("stream refused to start")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(DataStreamWriter, "start", refuse)
    with pytest.raises(RuntimeError, match="refused to start"):
        QUERIES[name](spark, sf_small)
    assert os.listdir(tmp_path) == []
    assert spark.streams.active == []


@pytest.mark.parametrize(
    "name", ["streaming_tumbling_hits", "streaming_sliding_hits"]
)
def test_memory_sink_entry_leaves_no_view(spark, sf_small, name):
    def views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = views()
    # the returned frame outlives its sink's view
    assert QUERIES[name](spark, sf_small).count() > 0
    assert views() == before
