"""The derived-state registry (``operators/_cache.py``): one generation
rule, a bounded frame set, measured entries, and operators that follow a
fixture regenerated in place instead of serving results derived from its
old rows."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from check_correctness import compare
from datalake_on_prem_system_spark.operators import _cache


def _cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


@pytest.fixture()
def tiny_sf(tmp_path, sf_dir):
    """A fixture dir whose inputs ``a`` and ``b`` are copies of a small
    real parquet file; only their generations matter here."""
    for name in ("a", "b"):
        shutil.copy2(os.path.join(sf_dir, "region.parquet"), tmp_path / f"{name}.parquet")
    return tmp_path


def _bump(path: pathlib.Path) -> None:
    st = path.stat()
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


def test_new_generation_releases_every_dependent_and_nothing_else(spark, tiny_sf):
    sf = str(tiny_sf)

    def make_dir(kind):
        return lambda: _cache.index_tempdir(f"reg_{kind}_")

    frame_a = _cache.derived(
        "reg_frame_a", sf, ("a",), lambda: spark.range(3).withColumn("k", F.lit("reg_a"))
    )
    dir_a = _cache.derived("reg_dir_a", sf, ("a",), make_dir("a"))
    _cache.derived("reg_value_ab", sf, ("a", "b"), lambda: [1, 2])
    dir_b = _cache.derived("reg_dir_b", sf, ("b",), make_dir("b"))
    frame_b = _cache.derived(
        "reg_frame_b", sf, ("b",), lambda: spark.range(3).withColumn("k", F.lit("reg_b"))
    )
    assert _cached(frame_a) and _cached(frame_b)
    assert os.path.isdir(dir_a) and os.path.isdir(dir_b)

    _bump(tiny_sf / "a.parquet")
    # a call that does not declare ``a`` leaves its entries alone
    assert _cache.derived("reg_dir_b", sf, ("b",), make_dir("b")) == dir_b
    assert _cache.lookup("reg_dir_a", sf) == dir_a

    builds = _cache.builds("reg_frame_a")
    fresh = _cache.derived(
        "reg_frame_a", sf, ("a",), lambda: spark.range(3).withColumn("k", F.lit("reg_a"))
    )
    assert _cache.builds("reg_frame_a") == builds + 1
    assert fresh is not frame_a and _cached(fresh)
    # every entry built from ``a`` went, frame unpersisted and dir removed
    assert _cache.lookup("reg_dir_a", sf) is None and not os.path.exists(dir_a)
    assert _cache.lookup("reg_value_ab", sf) is None
    # and nothing built only from ``b``
    assert _cache.lookup("reg_dir_b", sf) == dir_b and os.path.isdir(dir_b)
    assert _cache.lookup("reg_frame_b", sf) is frame_b and _cached(frame_b)


def test_frame_cap_releases_least_recently_used(spark, tiny_sf):
    sf = str(tiny_sf)

    def frame(i):
        return _cache.derived(
            "reg_cap", sf, ("a",), lambda: spark.range(2).withColumn("i", F.lit(i)), (i,)
        )

    frames = [frame(i) for i in range(_cache._MAX_LIVE)]
    frame(0)  # a hit: 0 becomes the most recently used
    frame(_cache._MAX_LIVE)  # one over the cap: 1 goes, 0 stays
    assert _cache.lookup("reg_cap", sf, (1,)) is None and not _cached(frames[1])
    assert _cache.lookup("reg_cap", sf, (0,)) is frames[0] and _cached(frames[0])
    # a hit re-persists: a harness clearCache() does not lose the frame
    spark.catalog.clearCache()
    assert frame(0) is frames[0] and _cached(frames[0])


def test_bench_reset_drops_only_measured_entries(spark, tiny_sf):
    import bench

    sf = str(tiny_sf)
    measured = _cache.derived(
        "reg_measured", sf, ("a",), lambda: _cache.index_tempdir("reg_m_"), measured=True
    )
    setup = _cache.derived("reg_setup", sf, ("a",), lambda: _cache.index_tempdir("reg_s_"))
    frame = _cache.derived(
        "reg_setup_frame", sf, ("a",), lambda: spark.range(2).withColumn("k", F.lit("reg_s"))
    )
    bench._reset_memoized_work(spark)
    assert _cache.lookup("reg_measured", sf) is None and not os.path.exists(measured)
    assert _cache.lookup("reg_setup", sf) == setup and os.path.isdir(setup)
    assert _cache.lookup("reg_setup_frame", sf) is frame


def _regenerated_matches_oracle(spark, tmp_path, sf_dir, name, table, keep):
    """Run ``name`` on a copy of its fixture ``table``, rewrite the copy in
    place with the rows ``keep`` selects, run it again and compare with the
    DuckDB oracle over the new file."""
    path = tmp_path / f"{table}.parquet"
    shutil.copy2(os.path.join(sf_dir, f"{table}.parquet"), path)
    query = entry_mod.queries()[name]
    query(spark, str(tmp_path)).collect()

    old = pq.read_table(path)
    pq.write_table(old.filter(keep(old)), path)

    con = duckdb.connect()
    con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    want = con.sql(entry_mod.oracle_sql()[name]).df()
    got = query(spark, str(tmp_path)).toPandas()
    assert not compare(name, got, want), compare(name, got, want)


def test_merge_upsert_follows_regenerated_customer(spark, tmp_path, sf_dir):
    _regenerated_matches_oracle(
        spark, tmp_path, sf_dir, "lh_merge_upsert", "customer",
        lambda tbl: pc.equal(pc.bit_wise_and(tbl["c_custkey"], 1), 0),
    )


def test_bm25_follows_regenerated_documents(spark, tmp_path, sf_dir):
    _regenerated_matches_oracle(
        spark, tmp_path, sf_dir, "search_bm25", "documents",
        lambda tbl: pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 0),
    )


# module-level dicts that are not derived state, each with its reason
_ALLOWED_DICTS = {
    # a durable CDC watermark on the hot path, purged through on_table_replace
    ("streaming/cdc.py", "_APPLIED_MEMO"),
    # bounds how many memory sinks stay registered; not derived state
    ("operators/streaming_ops.py", "_LAST_SINK"),
}


def test_no_module_level_memo_dicts_outside_the_registry():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "datalake_on_prem_system_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "operators/_cache.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            empty_dict = (isinstance(value, ast.Dict) and not value.keys) or (
                isinstance(value, ast.Call)
                and not value.args
                and not value.keywords
                and ast.unparse(value.func).rsplit(".", 1)[-1] in ("dict", "OrderedDict")
            )
            for target in targets:
                name = ast.unparse(target)
                if empty_dict and (rel, name) not in _ALLOWED_DICTS:
                    found.append(f"{rel}:{node.lineno} {name}")
    assert not found, (
        "module-level memo dicts; derived state goes through operators/_cache.derived: "
        + ", ".join(found)
    )
