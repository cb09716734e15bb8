"""LakeTable surface: a create/append/merge/DML/time-travel round trip,
the engine facade over it, and stats-based file skipping."""

from __future__ import annotations

from datalake_on_prem_system_spark.lakehouse import LakeTable


def test_laketable_roundtrip_via_protocol(spark, tmp_path):
    """Round trip through the table's public write/read/history methods."""
    from pyspark.sql import functions as F

    table = LakeTable(spark, str(tmp_path / "rt"))
    assert not table.exists()
    table.create_or_replace(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    )
    assert table.exists()
    v0 = table.latest_version()
    table.append(spark.createDataFrame([(3, "c")], "id int, v string"))
    table.merge(
        spark.createDataFrame([(2, "B", "u"), (3, None, "d")], "id int, v string, op string"),
        pk="id",
        op_col="op",
    )
    got = {r.id: r.v for r in table.read().collect()}
    assert got == {1: "a", 2: "B"}
    table.update_where(F.col("id") == 1, {"v": "A"})
    table.delete_where(F.col("id") == 2)
    table.insert_rows([{"id": 9, "v": "z"}])
    got = {r.id: r.v for r in table.read().collect()}
    assert got == {1: "A", 9: "z"}
    # lineage + time travel surface
    assert table.versions() == sorted(table.versions())
    assert table.latest_version() > v0
    assert {r.id for r in table.read(version=v0).collect()} == {1, 2}
    hist_cols = set(table.history().columns)
    assert {"version", "operation", "n_rows", "committed_at"} <= hist_cols
    table.compact()
    assert {r.id: r.v for r in table.read().collect()} == {1: "A", 9: "z"}


def test_engine_write_list_read(spark, tmp_path):
    from datalake_on_prem_system_spark.engine import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"), namespace="ns")
    eng.write_table(
        "t1", spark.createDataFrame([(1, "x")], "id int, v string")
    )
    assert eng.catalog.list_tables() == ["t1"]
    assert {r.id for r in eng.read("t1").collect()} == {1}


# ---------------------------------------------------------------------------
# stats-based file skipping (round 7): Iceberg-manifest min/max analog


def _n_input_files(df) -> int:
    return len(df.inputFiles())


def test_commit_entries_record_column_stats(spark, tmp_path):
    from datalake_on_prem_system_spark.lakehouse import LakeTable

    t = LakeTable(spark, str(tmp_path / "st"))
    t.create_or_replace(
        spark.createDataFrame(
            [(i, float(i * 10), f"s{i:03d}") for i in range(1, 6)],
            "k int, v double, s string",
        )
    )
    stats = t.commit_at().files[0]["stats"]
    assert stats["k"] == [1, 5]
    assert stats["v"] == [10.0, 50.0]
    assert stats["s"] == ["s001", "s005"]


def test_read_where_skips_files_by_stats(spark, tmp_path):
    """A range predicate must resolve only the bucket entries whose
    recorded min/max can match — same rows as the unpruned filter, fewer
    files scanned."""
    from pyspark.sql import functions as F

    from datalake_on_prem_system_spark.lakehouse import LakeTable

    t = LakeTable(spark, str(tmp_path / "sk"))
    # bucket on k; v correlates with k so different buckets hold disjoint
    # v ranges often enough that stats exclude some buckets
    t.create_or_replace(
        spark.createDataFrame(
            [(k, float(k)) for k in range(64)], "k int, v double"
        ),
        bucket_by=("k", 8),
    )
    pred = F.col("v") >= 60.0
    got = {(r.k, r.v) for r in t.read_where(pred).collect()}
    want = {(r.k, r.v) for r in t.read().filter(pred).collect()}
    assert got == want and len(got) == 4
    assert _n_input_files(t.read_where(pred)) < _n_input_files(t.read()), (
        "stats pruning must drop provably-non-matching bucket files"
    )


def test_stats_pruning_never_drops_delta_entries(spark, tmp_path):
    """The MOR soundness rule: a delta that moves a key's value OUT of the
    predicate range must still suppress the (in-range) base row — pruning
    the delta by its own values would resurrect the stale base row."""
    from pyspark.sql import functions as F

    from datalake_on_prem_system_spark.lakehouse import LakeTable

    t = LakeTable(spark, str(tmp_path / "mor_sk"))
    t.create_or_replace(
        spark.createDataFrame(
            [(1, 100.0), (2, 200.0), (3, 5.0)], "k int, v double"
        ),
        bucket_by=("k", 2),
        properties={"write.merge.mode": "mor"},
    )
    # delta: key 1 drops to v=1.0 (outside pred), key 3 rises to 300.0
    t.merge(
        spark.createDataFrame([(1, 1.0), (3, 300.0)], "k int, v double"), pk="k"
    )
    got = {(r.k, r.v) for r in t.read_where(F.col("v") > 50.0).collect()}
    assert got == {(2, 200.0), (3, 300.0)}, (
        f"stale base row resurrected or fresh delta row lost: {got}"
    )


def test_epoch_append_query_skips_old_segments(spark, sf_dir):
    """The registered lh_stats_skipping serve path really skips: the
    month-range read touches fewer files than the full snapshot."""
    from pyspark.sql import functions as F

    from datalake_on_prem_system_spark.operators.lakehouse_ops import (
        _orders_epoch_table,
    )

    t = _orders_epoch_table(spark, sf_dir)
    pruned = _n_input_files(t.read_where(F.col("o_ym") >= "1997-01"))
    full = _n_input_files(t.read())
    assert pruned < full, f"pruned={pruned} full={full}"
    # and the pruned read returns exactly the filtered rows
    got = t.read_where(F.col("o_ym") >= "1997-01").count()
    want = t.read().filter(F.col("o_ym") >= "1997-01").count()
    assert got == want > 0


def test_facade_equality_filter_prunes_by_stats(spark, tmp_path):
    """engine.read(filter_col=, filter_val=) on a non-pk DOUBLE column
    benefits from manifest stats: an equality literal outside an entry's
    range skips that entry's files."""
    from datalake_on_prem_system_spark.engine import LakeEngine

    eng = LakeEngine(spark, str(tmp_path), namespace="prune_ns")
    eng.write_table(
        "ev", spark.range(0, 200).selectExpr("id AS ev_id", "CAST(id * 1.5 AS DOUBLE) AS v")
    )
    t = eng.catalog.table("ev")
    t.append(
        spark.range(200, 400).selectExpr("id AS ev_id", "CAST(id * 1.5 AS DOUBLE) AS v")
    )
    df = eng.read("ev", filter_col="v", filter_val="450.0")
    assert len(df.inputFiles()) < len(t.read().inputFiles())
    assert [r.ev_id for r in df.collect()] == [300]


def test_compact_clustered_zorder_skips_on_both_dimensions(spark, tmp_path):
    """Z-order clustering makes manifest stats effective on EVERY
    clustered column: after compact_clustered(zorder_key([a, b])), narrow
    range predicates on a AND on b each resolve a strict subset of the
    range segments — lexicographic clustering can only ever do this for
    the leading column."""
    import random as _random

    from pyspark.sql import functions as F

    from datalake_on_prem_system_spark.lakehouse import LakeTable
    from datalake_on_prem_system_spark.lakehouse.zorder import zorder_key

    rng = _random.Random(11)
    rows = [(i, rng.randrange(1000), rng.randrange(1000)) for i in range(4000)]
    t = LakeTable(spark, str(tmp_path / "z"))
    t.create_or_replace(spark.createDataFrame(rows, "id bigint, a bigint, b bigint"))
    before = {(r.id, r.a, r.b) for r in t.read().collect()}

    t.compact_clustered(zorder_key(t.read(), ["a", "b"]), n_ranges=16)
    # up to n_ranges entries (duplicate quantile bounds collapse); a
    # uniform 4000-row key should keep nearly all of them
    assert 8 <= len(t.commit_at().files) <= 16
    assert {(r.id, r.a, r.b) for r in t.read().collect()} == before  # lossless

    full = len(t.read().inputFiles())
    for col in ("a", "b"):
        pred = (F.col(col) >= 100) & (F.col(col) < 200)
        pruned = t.read_where(pred)
        assert len(pruned.inputFiles()) < full, f"no skipping on {col}"
        got = {(r.id, r.a, r.b) for r in pruned.collect()}
        want = {r for r in before if 100 <= (r[1] if col == "a" else r[2]) < 200}
        assert got == want


def test_compact_clustered_null_keys_and_merge_after(spark, tmp_path):
    """NULL key components land in range 0 (never lost); a keyed merge
    after clustering still works (one re-bucketing rewrite — the layout
    trade-off the docstring records)."""
    from pyspark.sql import functions as F

    from datalake_on_prem_system_spark.lakehouse import LakeTable
    from datalake_on_prem_system_spark.lakehouse.zorder import zorder_key

    t = LakeTable(spark, str(tmp_path / "zn"))
    t.create_or_replace(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 900), (4, 500)], "id bigint, a bigint"
        ),
        bucket_by=("id", 4),
    )
    t.compact_clustered(zorder_key(t.read(), ["a"]), n_ranges=2)
    assert t.commit_at().bucket_spec is None  # range layout replaced buckets
    assert {r.id for r in t.read().collect()} == {1, 2, 3, 4}
    t.merge(spark.createDataFrame([(2, 77)], "id bigint, a bigint"), pk="id")
    assert {(r.id, r.a) for r in t.read().collect()} == {
        (1, 10), (2, 77), (3, 900), (4, 500)
    }


def test_partitions_metadata_table(spark, tmp_path):
    """$partitions: per-partition file/row counts from footer metadata;
    plain appended segments report under NULL partition values until a
    compact folds them into hive leaves; unpartitioned tables raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from datalake_on_prem_system_spark.lakehouse import LakeTable

    t = LakeTable(spark, str(tmp_path / "pt"))
    df = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd") for i in range(20)],
        "id bigint, par string",
    )
    t.create_or_replace(df.filter(F.col("id") < 10), partition_by=["par"])
    rows = {r.par: (r.n_files, r.n_rows) for r in t.partitions().collect()}
    assert set(rows) == {"even", "odd"}
    assert all(nf >= 1 for nf, _ in rows.values())
    assert sum(nr for _, nr in rows.values()) == 10

    # plain append -> NULL partition bucket, totals still exact
    t.append(df.filter(F.col("id") >= 10))
    rows = {r.par: r.n_rows for r in t.partitions().collect()}
    assert rows[None] == 10 and rows["even"] + rows["odd"] == 10

    # compact folds the plain rows into hive leaves
    t.compact()
    rows = {r.par: r.n_rows for r in t.partitions().collect()}
    assert None not in rows and rows == {"even": 10, "odd": 10}

    # hive-encoded special characters decode back to the value
    t2 = LakeTable(spark, str(tmp_path / "pt2"))
    t2.create_or_replace(
        spark.createDataFrame([(1, "a b:c")], "id bigint, par string"),
        partition_by=["par"],
    )
    assert [r.par for r in t2.partitions().collect()] == ["a b:c"]

    t3 = LakeTable(spark, str(tmp_path / "pt3"))
    t3.create_or_replace(df)
    with _pytest.raises(ValueError, match="no hive partition"):
        t3.partitions()
