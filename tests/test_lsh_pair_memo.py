"""One MinHash-LSH pair table per corpus (queries.dedup): every
near-dup consumer of a corpus in a session reads the same persisted
pair table.  Pinned here: the reuse itself (object identity and the
jobs it saves), and the memo's lifecycle through ``clearCache()``,
an in-place corpus rewrite and eviction (io.memo_persisted)."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel

from energi_data_pipeline_spark import io
from energi_data_pipeline_spark.queries import load_all
from energi_data_pipeline_spark.queries.dedup import (
    _LSH_PAIRS_MEMO, dedup_minhash_lsh_pairs)

from .conftest import SF0001, SF001
from .test_medallion_cycle import _jobs

#: jobs ``curation_cluster_representatives`` submits on the sf0.01
#: corpus once ``curation_pipeline`` has run in the same session
#: (measured 8; 19 when each entry built its own pair table).
MAX_REPS_JOBS_AFTER_PIPELINE = 8


def _corpus(src: str, dst: str, rows: int | None = None) -> str:
    """A private copy of ``src``'s documents (optionally its first
    ``rows``), so this file's memo entries and caches are its own."""
    os.makedirs(dst, exist_ok=True)
    path = os.path.join(dst, "documents.parquet")
    if rows is None:
        shutil.copy(os.path.join(src, "documents.parquet"), path)
    else:
        pq.write_table(pq.read_table(
            os.path.join(src, "documents.parquet")).slice(0, rows), path)
    return dst


def _forget(sf: str) -> None:
    """Drop (and unpersist) this corpus's memo entries."""
    for k in [k for k in _LSH_PAIRS_MEMO
              if k[2] == os.path.join(sf, "documents.parquet")]:
        for df, _level in _LSH_PAIRS_MEMO.pop(k):
            df.unpersist()


def _rows(df) -> set:
    return {tuple(r) for r in df.collect()}


def _cached_plan_nodes(spark, df) -> list[str]:
    """Physical node names of the plan ``df``'s cache entry was built
    with (through AQE wrappers and query stages)."""
    cached = (spark._jsparkSession.sharedState().cacheManager()
              .lookupCachedData(df._jdf))
    assert cached.isDefined()
    out: list[str] = []

    def walk(node):
        name = node.getClass().getSimpleName()
        out.append(name)
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(cached.get().cachedRepresentation().cacheBuilder().cachedPlan())
    return out


def test_curation_reuses_the_pair_table(spark, tmp_path):
    """After ``curation_pipeline`` has materialized the corpus's pair
    table, ``curation_cluster_representatives`` scans it instead of
    rebuilding it: at most half the jobs it submitted when each
    entry built its own table."""
    sf = _corpus(SF001, str(tmp_path / "c"))
    reg = load_all()
    sc = spark.sparkContext
    try:
        reg["curation_pipeline"].fn(spark, sf).collect()
        n = _jobs(sc, "lsh-memo-reps", lambda: reg[
            "curation_cluster_representatives"].fn(spark, sf).collect())
        assert n <= MAX_REPS_JOBS_AFTER_PIPELINE, n
        assert dedup_minhash_lsh_pairs(spark, sf) \
            is dedup_minhash_lsh_pairs(spark, sf)
    finally:
        _forget(sf)


def test_hit_after_clear_cache_restores_the_entry(spark, tmp_path):
    """``clearCache()`` drops the persist; the next hit hands back the
    same object, re-persisted, with the same rows — and re-persisted
    in build order, so the pair table's cached plan scans the
    signature's InMemoryRelation, never the corpus file (re-cached
    first, it would be planned over the raw token/shingle chain)."""
    sf = _corpus(SF0001, str(tmp_path / "c"))
    try:
        a = dedup_minhash_lsh_pairs(spark, sf)
        before = _rows(a)
        assert before
        spark.catalog.clearCache()
        assert a.storageLevel == StorageLevel.NONE
        b = dedup_minhash_lsh_pairs(spark, sf)
        assert b is a
        assert b.storageLevel != StorageLevel.NONE
        assert _rows(b) == before
        nodes = _cached_plan_nodes(spark, b)
        assert "InMemoryTableScanExec" in nodes, nodes
        assert "FileSourceScanExec" not in nodes, nodes
        # the partition cap holds on the restored table too
        assert (b.rdd.getNumPartitions()
                <= spark.sparkContext.defaultParallelism)
    finally:
        _forget(sf)


def test_rewritten_corpus_misses(spark, tmp_path):
    """Rewriting the corpus in place changes its file identity: the
    memo misses, unpersists the old entry before building, and the
    new table holds the NEW corpus's pairs (the CacheManager matches
    a file scan by path, so building first would read stale
    blocks)."""
    sf = str(tmp_path / "c")
    _corpus(SF001, sf)
    try:
        old = dedup_minhash_lsh_pairs(spark, sf)
        assert _rows(old)
        _corpus(SF001, sf, rows=300)
        new = dedup_minhash_lsh_pairs(spark, sf)
        assert new is not old
        path = os.path.join(sf, "documents.parquet")
        assert [k for k in _LSH_PAIRS_MEMO if k[2] == path] == [
            io.file_memo_key(spark, path)]
        # storageLevel is looked up by plan, and both tables' plans
        # scan the same path: the new table is the one persisted
        assert new.storageLevel != StorageLevel.NONE
        got = _rows(new)
        ids = set(pq.read_table(os.path.join(sf, "documents.parquet"),
                                columns=["doc_id"])["doc_id"].to_pylist())
        assert got and {d for a, b, _ in got for d in (a, b)} <= ids
        _forget(sf)
        spark.catalog.clearCache()
        assert got == _rows(dedup_minhash_lsh_pairs(spark, sf))
    finally:
        _forget(sf)


def test_eviction_unpersists(spark, tmp_path, monkeypatch):
    """Past the memo's capacity the oldest-inserted entry is evicted,
    and every frame of it — signature barriers and pair table — is
    unpersisted."""
    from energi_data_pipeline_spark.queries import dedup

    memo: dict = {}
    monkeypatch.setattr(dedup, "_LSH_PAIRS_MEMO", memo)
    monkeypatch.setattr(io, "PERSIST_MEMO_MAX", 1)
    first = _corpus(SF0001, str(tmp_path / "a"))
    second = _corpus(SF0001, str(tmp_path / "b"))
    a = dedup_minhash_lsh_pairs(spark, first)
    a.count()
    (frames,) = [[df for df, _level in v] for v in memo.values()]
    assert len(frames) > 1 and frames[-1] is a
    assert all(df.storageLevel != StorageLevel.NONE for df in frames)
    b = dedup_minhash_lsh_pairs(spark, second)
    assert [k[2] for k in memo] == [
        os.path.join(second, "documents.parquet")]
    assert all(df.storageLevel == StorageLevel.NONE for df in frames)
    assert b.storageLevel != StorageLevel.NONE


@pytest.fixture(autouse=True)
def _clean_caches(spark):
    yield
    spark.catalog.clearCache()
