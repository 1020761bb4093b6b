"""Scratch-cache hygiene: the driver runs all 150 contract queries in ONE
JVM, and several operators persist intermediates (shingle tables, LSH
features, funnel stages) that the operator itself can't unpersist — the
caller still needs them at collect time.  session.scratch_persist registers
them; the queries() wrapper releases the backlog at the start of the NEXT
query.  This pins that running a sequence of cache-heavy queries does not
accumulate persisted frames."""

from __future__ import annotations

import os

import __spark_entry__ as entrymod
from checkatron_spark.session import release_scratch, scratch_persist

REQUIRES_TESTDATA = True  # auto-skip without driver fixtures (conftest)

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")

# cache-heavy contract queries: n-gram jaccard + minhash persist shingle /
# feature frames, the funnel persists three stage frames, corpus dedup
# leaves its final connected-components checkpoint for the caller
HEAVY = [
    "neardup_ngram_jaccard",
    "neardup_minhash_lsh",
    "curation_funnel",
    "dedup_corpus_e2e",
]


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_scratch_registry_roundtrip(spark):
    df = spark.range(10).transform(scratch_persist)
    assert df.count() == 10
    assert _n_persistent(spark) >= 1
    assert release_scratch() >= 1
    assert release_scratch() == 0  # registry drained


def test_no_cache_accumulation_across_queries(spark):
    qs = entrymod.full_queries()
    release_scratch()
    baseline = _n_persistent(spark)
    high_water = []
    for name in HEAVY:
        qs[name](spark, SF_DIR).collect()
        high_water.append(_n_persistent(spark))
    # each query may hold its own scratch frames while running, but starting
    # the next query must have released its predecessor's: the count after
    # query k is bounded by baseline + query k's own frames (<= 3 here),
    # NOT the sum over all previous queries
    assert all(h <= baseline + 4 for h in high_water), (
        f"persisted frames accumulate across queries: baseline={baseline}, "
        f"after each heavy query={high_water}"
    )
    release_scratch()
    assert _n_persistent(spark) <= baseline


def test_scratch_cache_context_manager(spark):
    """ADVICE r5: library callers need a sanctioned release point — the
    context manager drains the registry on exit, including on error."""
    import checkatron_spark as ck
    from checkatron_spark.session import _SCRATCH, scratch_cache, scratch_persist

    assert ck.scratch_cache is scratch_cache  # public API export
    df = spark.range(10)
    with scratch_cache():
        scratch_persist(df).count()
        assert len(_SCRATCH) == 1
    assert len(_SCRATCH) == 0 and not df.is_cached

    try:
        with scratch_cache():
            scratch_persist(spark.range(5)).count()
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert len(_SCRATCH) == 0


def test_audit_pool_joined_when_a_constructor_raises(spark, monkeypatch):
    """Building the recall audit must leave no worker thread behind when
    a method's constructor raises mid-audit."""
    import threading

    import pytest

    from checkatron_spark import pipelines as P
    from checkatron_spark.operators import pq

    def broken_build(*a, **kw):
        raise RuntimeError("injected build failure")

    monkeypatch.setattr(pq, "ivf_grid_index", broken_build)
    baseline = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="injected") as err:
        P.q_ann_recall_audit(spark, SF_DIR)
    # err keeps the audit's frame (and so its pool) reachable: a worker
    # still alive here is a leak, not garbage awaiting collection
    assert "injected" in str(err.value)
    leaked = [t.name for t in threading.enumerate() if t not in baseline]
    assert leaked == []
    release_scratch()


def test_compaction_releases_its_frame_when_the_write_fails(
    spark, tmp_path, monkeypatch
):
    """apply_delta_stream's compaction caches nothing: an epoch write
    that raises must leave the CacheManager empty."""
    import pytest
    from pyspark.sql import DataFrameWriter
    from pyspark.sql import functions as F

    from checkatron_spark import streaming as ST

    base = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [("U", 4, 44), ("D", 9, None), ("I", 901, 5)],
        "_op string, k bigint, v bigint",
    ).coalesce(1).write.parquet(feed)
    stream = spark.readStream.schema(spark.read.parquet(feed).schema).parquet(
        feed
    )
    state = str(tmp_path / "state")
    real_parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *a, **kw):
        name = os.path.basename(path)
        if name.startswith("epoch") and name != "epoch0":
            raise OSError("injected compaction write failure")
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    release_scratch()
    spark.catalog.clearCache()
    with pytest.raises(OSError, match="injected"):
        ST.apply_delta_stream(
            stream, base, ["k"], ["v"], state_dir=state, n_buckets=8
        )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
