"""Operator-internal persisted frames must not accumulate over a long
session: the derived-state registry caps live frames without any harness
clearCache cooperation, release_all() returns storage to baseline on
demand, and a fixture regenerated in place releases everything derived
from it."""

from __future__ import annotations

from datalake_on_prem_system_spark.operators import _cache, dedup


def _n_cached_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())  # noqa: SLF001


def test_dedup_caches_stay_bounded_across_sweeps(spark, sf_dir):
    spark.catalog.clearCache()
    _cache.release_all()
    assert _n_cached_rdds(spark) == 0

    # 4 sweeps × 2 persisting queries = 8 persists — over the cap; without
    # the registry each sweep would leave 2 more cached shingle frames
    for _ in range(4):
        dedup.QUERIES["dd_ngram_jaccard"](spark, sf_dir).collect()
        dedup.QUERIES["dd_minhash_lsh"](spark, sf_dir).collect()
    assert _n_cached_rdds(spark) <= _cache._MAX_LIVE

    released = _cache.release_all()
    assert released >= 1
    assert _n_cached_rdds(spark) == 0, "storage must return to baseline"
    # and the operators still work after a full release
    assert dedup.QUERIES["dd_ngram_jaccard"](spark, sf_dir).collect() is not None


def test_ivf_refit_removes_superseded_index_dir(spark, sf_dir, tmp_path):
    """A re-fit (corpus drift ⇒ new mtime in the cache key) must remove the
    superseded index tempdir instead of orphaning it until process exit."""
    import os
    import shutil

    from datalake_on_prem_system_spark.operators import similarity as sim

    # private corpus copy so touching the mtime can't perturb other tests
    work = tmp_path / "sf_copy"
    work.mkdir()
    for name in ("embeddings.parquet", "documents.parquet"):
        src = os.path.join(sf_dir, name)
        if os.path.isdir(src):
            shutil.copytree(src, work / name)
        elif os.path.exists(src):  # fixture parquet are single files
            shutil.copy2(src, work / name)

    path1, _ = sim.build_ivf_index(spark, str(work))
    dir1 = os.path.dirname(path1)
    assert os.path.isdir(dir1)

    # simulate corpus drift: bump the embeddings mtime → new cache key
    emb = work / "embeddings.parquet"
    os.utime(emb, (os.path.getmtime(emb) + 10, os.path.getmtime(emb) + 10))
    path2, _ = sim.build_ivf_index(spark, str(work))
    assert path2 != path1
    assert not os.path.exists(dir1), "superseded index dir must be GC'd"
    assert os.path.isdir(os.path.dirname(path2))


def test_eviction_pressure_never_kills_newest_same_plan_cache(spark, sf_dir, tmp_path):
    """Regression (round-7 full-suite failure): Spark uncaches BY PLAN, so
    evicting an old frame whose plan equals a newer one would silently
    uncache the newer frame too. A registry key holds one frame and a
    repeat call never unpersists it; only different-key evictions
    unpersist. After heavy different-key pressure, a fresh dedup query must
    still serve its shingle frame from cache (InMemoryTableScan in the
    plan)."""
    from pyspark.sql import functions as F

    from datalake_on_prem_system_spark.plans import capture_plan

    _cache.release_all()
    # churn: many distinct-plan registrations force evictions
    for i in range(10):
        _cache.derived(
            "churn",
            str(tmp_path),
            (),
            lambda i=i: spark.range(5).withColumn("tag", F.lit(i)),
            (i,),
        )
    plan = capture_plan(dedup.QUERIES["dd_ngram_jaccard"](spark, sf_dir))
    assert "InMemoryTableScan" in plan, "eviction killed the fresh cache entry"
    _cache.release_all()


def test_pq_refit_removes_superseded_code_table(spark, sf_dir, tmp_path):
    """Same contract for the PQ index as the IVF one: corpus drift (new
    mtime) re-trains the codebooks AND removes the superseded code-table
    tempdir instead of orphaning it until process exit."""
    import os
    import shutil

    from datalake_on_prem_system_spark.operators import similarity as sim

    work = tmp_path / "sf_copy_pq"
    work.mkdir()
    shutil.copy2(os.path.join(sf_dir, "embeddings.parquet"), work / "embeddings.parquet")

    path1, books1 = sim.build_pq_index(spark, str(work))
    dir1 = os.path.dirname(path1)
    assert os.path.isdir(dir1)
    assert len(books1) == sim._PQ_M

    emb = work / "embeddings.parquet"
    os.utime(emb, (os.path.getmtime(emb) + 10, os.path.getmtime(emb) + 10))
    path2, _books2 = sim.build_pq_index(spark, str(work))
    assert path2 != path1
    assert not os.path.exists(dir1), "superseded code table must be GC'd"
    assert os.path.isdir(os.path.dirname(path2))


def test_lpa_label_cache_shared_and_invalidated(spark, sf_dir, tmp_path):
    """g_label_propagation and g_modularity share ONE persisted LPA label
    frame (same registry entry ⇒ same Spark cache entry), so scoring the
    partition never re-runs the 3-round Pregel loop; and a new lineitem
    generation releases the label frame along with the edge frames it
    derives from (a regenerated fixture must not serve stale labels)."""
    import os
    import shutil

    from datalake_on_prem_system_spark.operators import graph_ops

    # private corpus copy so touching the mtime can't perturb other tests
    work = tmp_path / "sf_copy"
    work.mkdir()
    src = os.path.join(sf_dir, "lineitem.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, work / "lineitem.parquet")
    else:
        shutil.copy2(src, work / "lineitem.parquet")
    wdir = str(work)

    _cache.release_all()
    graph_ops.QUERIES["g_label_propagation"](spark, wdir).collect()
    assert _cache.lookup("g_lpa_labels", wdir) is not None, (
        "LPA labels must register for reuse"
    )
    builds = _cache.builds("g_lpa_labels")
    sizes = graph_ops.QUERIES["g_modularity"](spark, wdir).collect()
    assert len(sizes) == 1
    assert _cache.lookup("g_lpa_labels", wdir) is not None
    assert _cache.builds("g_lpa_labels") == builds, "modularity must reuse the labels"

    # fixture regenerated in place ⇒ new generation ⇒ labels released
    li = work / "lineitem.parquet"
    bump = os.path.getmtime(li) + 10
    os.utime(li, (bump, bump))
    graph_ops._cosupply_edges(spark, wdir)
    assert _cache.lookup("g_lpa_labels", wdir) is None, (
        "stale LPA labels must be released on fixture regeneration"
    )


def test_curve_caches_plan_keyed_and_released_on_drift(spark, sf_dir, tmp_path):
    """The dd_threshold_curve / sketch-audit persists are keyed on (kind,
    path) — no mtime in the key — and a new documents.parquet generation
    RELEASES them: re-keying alone would serve stale cached rows, since
    Spark's cache is keyed by logical plan, which does not change with file
    content. Also pins that the curve result actually changes after the
    corpus does (end-to-end staleness check, not just registry
    bookkeeping)."""
    import os
    import shutil

    from datalake_on_prem_system_spark.operators import dedup

    work = tmp_path / "sf_copy"
    work.mkdir()
    src = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, work / "documents.parquet")
    else:
        shutil.copy2(src, work / "documents.parquet")
    wdir = str(work)

    _cache.release_all()
    before = {
        r.threshold: r.n_pairs
        for r in dedup.QUERIES["dd_threshold_curve"](spark, wdir).collect()
    }
    assert _cache.lookup("curve_ordered", wdir) is not None, (
        "curve persist must register under (kind, path) (no mtime in the key)"
    )

    # regenerate the corpus IN PLACE (same path, different content)
    spark.createDataFrame(
        [(1, "a b c d", "en", "w", 7), (2, "a b c d", "en", "w", 7)],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.mode("overwrite").parquet(str(work / "documents.parquet"))
    bump = os.path.getmtime(work / "documents.parquet") + 10
    os.utime(work / "documents.parquet", (bump, bump))

    after = {
        r.threshold: r.n_pairs
        for r in dedup.QUERIES["dd_threshold_curve"](spark, wdir).collect()
    }
    assert after[0.9] == 1, "post-drift curve must reflect the NEW corpus"
    assert after != before
