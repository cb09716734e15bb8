from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_on_prem_system_spark.lakehouse import LakeCatalog, LakeTable, snapshot_diff
from datalake_on_prem_system_spark.lakehouse.table import (
    ConcurrentCommitError,
    ExpiredVersionError,
)


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create_or_replace(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id int, name string, v double"
        )
    )
    return t


def test_create_read_roundtrip(table):
    assert {r.id for r in table.read().collect()} == {1, 2, 3}
    assert table.latest_version() == 0


def test_append_and_history(table, spark):
    table.append(spark.createDataFrame([(4, "d", 40.0)], "id int, name string, v double"))
    assert table.read().count() == 4
    hist = {r.version: r.operation for r in table.history().collect()}
    assert hist == {0: "create_or_replace", 1: "append"}


def test_merge_upsert_delete_insert(table, spark):
    src = spark.createDataFrame(
        [(2, "b2", 22.0, "u"), (3, None, None, "d"), (9, "i", 90.0, "c")],
        "id int, name string, v double, op string",
    )
    table.merge(src, pk="id", op_col="op")
    rows = {r.id: (r.name, r.v) for r in table.read().collect()}
    assert rows == {1: ("a", 10.0), 2: ("b2", 22.0), 9: ("i", 90.0)}


def test_merge_precombine_last_writer_wins(table, spark):
    src = spark.createDataFrame(
        [(2, "old", 0.0, 1), (2, "new", 99.0, 5)], "id int, name string, v double, seq int"
    )
    table.merge(src, pk="id", precombine="seq")
    rows = {r.id: r.name for r in table.read().collect()}
    assert rows[2] == "new"


def test_merge_is_idempotent(table, spark):
    src = spark.createDataFrame([(2, "b2", 22.0, "u")], "id int, name string, v double, op string")
    table.merge(src, pk="id", op_col="op")
    state1 = sorted(map(tuple, table.read().collect()))
    table.merge(src, pk="id", op_col="op")
    state2 = sorted(map(tuple, table.read().collect()))
    assert state1 == state2


def test_time_travel_and_fallback(table, spark):
    table.delete_where(F.col("id") == 1)
    assert table.read(version=0).count() == 3
    assert table.read().count() == 2
    assert table.read(version=77, fallback_to_latest=True).count() == 2
    with pytest.raises(ExpiredVersionError):
        table.read(version=77)


def test_update_insert_typed(table):
    table.update_where(F.col("id") == 1, {"v": 11.5})
    table.insert_rows([{"id": 5, "name": "e", "v": 50.0}])
    rows = {r.id: r.v for r in table.read().collect()}
    assert rows[1] == 11.5 and rows[5] == 50.0


def test_update_insert_reject_unknown_columns(table):
    with pytest.raises(ValueError):
        table.update_where(F.col("id") == 1, {"typo": 1.0})
    with pytest.raises(ValueError):
        table.insert_rows([{"id": 6, "nme": "typo"}])
    assert table.latest_version() == 0  # nothing committed


def test_snapshot_diff_classification(table, spark):
    src = spark.createDataFrame(
        [(2, "b2", 22.0, "u"), (3, None, None, "d"), (9, "i", 90.0, "c")],
        "id int, name string, v double, op string",
    )
    table.merge(src, pk="id", op_col="op")
    d = {r.id: r for r in snapshot_diff(table, 0, 1, "id").collect()}
    assert d[2].status == "MODIFIED"
    assert d[3].status == "DELETED"
    assert d[9].status == "NEW"
    assert 1 not in d  # unchanged
    assert d[2].changed_cells["v"]["old"] == "20.0"
    assert d[2].changed_cells["v"]["new"] == "22.0"
    assert d[9].changed_cells == {}  # cell diffs only for matched rows


def test_partitioned_write_and_properties(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "pt"))
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")], "id int, name string, part string"
    )
    t.create_or_replace(
        df, partition_by=["part"], properties={"write.format": "parquet/zstd"}
    )
    assert t.properties() == {"write.format": "parquet/zstd"}
    # partition pruning: a filter on the partition column prunes directories
    from datalake_on_prem_system_spark.plans import capture_plan

    pruned = t.read().filter(F.col("part") == "x")
    assert pruned.count() == 2
    assert "PartitionFilters: [" in capture_plan(pruned, "simple")
    # config carries forward through subsequent commits (D4 semantics)
    t.append(spark.createDataFrame([(4, "d", "z")], "id int, name string, part string"))
    assert t.properties() == {"write.format": "parquet/zstd"}
    assert t._read_commit(1).partition_by == ["part"]


def test_read_as_of_commit_time(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "ts"))
    c0 = t.create_or_replace(spark.range(3))
    c1 = t.append(spark.range(3, 6))
    assert t.read_as_of(c0.committed_at).count() == 3
    assert t.read_as_of(c1.committed_at + 1).count() == 6
    with pytest.raises(ExpiredVersionError):
        t.read_as_of(c0.committed_at - 100)


def test_merge_null_or_unknown_op_updates_not_deletes(table, spark):
    """A NULL or unrecognized op token must upsert (WHEN MATCHED THEN
    UPDATE), never silently delete the matched row."""
    src = spark.createDataFrame(
        [(2, "b2", 22.0, None), (3, "c3", 33.0, "weird")],
        "id int, name string, v double, op string",
    )
    table.merge(src, pk="id", op_col="op")
    rows = {r.id: r.name for r in table.read().collect()}
    assert rows == {1: "a", 2: "b2", 3: "c3"}


def test_merge_bootstraps_missing_table(spark, tmp_path):
    """First merge into a never-created table creates it (CREATE TABLE IF
    NOT EXISTS parity) instead of raising."""
    t = LakeTable(spark, str(tmp_path / "boot"))
    src = spark.createDataFrame(
        [(1, "a", "c", 5)], "id int, name string, op string, seq int"
    )
    t.merge(src, pk="id", op_col="op", precombine="seq")
    assert [r.asDict() for r in t.read().collect()] == [{"id": 1, "name": "a"}]


def test_merge_evolves_schema(table, spark):
    """Upsert carrying a new column adds it (existing rows take NULL) —
    parity with append's union-of-columns."""
    src = spark.createDataFrame(
        [(2, "b2", 22.0, "u", "new-col-val")],
        "id int, name string, v double, op string, tag string",
    )
    table.merge(src, pk="id", op_col="op")
    rows = {r.id: r.tag for r in table.read().collect()}
    assert rows == {1: None, 2: "new-col-val", 3: None}


def test_delete_where_null_predicate_keeps_row(spark, tmp_path):
    """DELETE removes only rows where the condition is TRUE; rows where it
    evaluates NULL must survive."""
    t = LakeTable(spark, str(tmp_path / "dn"))
    t.create_or_replace(
        spark.createDataFrame([(1, "x"), (2, None), (3, "y")], "id int, name string")
    )
    t.delete_where(F.col("name") == "x")
    assert {r.id for r in t.read().collect()} == {2, 3}


def test_partition_column_type_survives_roundtrip(spark, tmp_path):
    """String partition values that look numeric must come back as strings
    with leading zeros intact (stored schema beats directory-name
    inference)."""
    t = LakeTable(spark, str(tmp_path / "pi"))
    t.create_or_replace(
        spark.createDataFrame([(1, "0123"), (2, "0456")], "id int, code string"),
        partition_by=["code"],
    )
    got = {r.id: r.code for r in t.read().collect()}
    assert got == {1: "0123", 2: "0456"}
    assert dict(t.read().dtypes)["code"] == "string"
    assert t.read().columns == ["id", "code"]  # original order, not part-last


def test_create_or_replace_resets_partitioning(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "rp"))
    df = spark.createDataFrame([(1, "a")], "id int, seg string")
    t.create_or_replace(df, partition_by=["seg"])
    t.create_or_replace(spark.createDataFrame([(2,)], "id int"))  # no seg col
    assert t._read_commit(t.latest_version()).partition_by is None
    assert {r.id for r in t.read().collect()} == {2}


def test_diff_reports_new_only_column_change(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "dnc"))
    t.create_or_replace(spark.createDataFrame([(1, "a")], "id int, name string"))
    t.append(spark.createDataFrame([(2, "b", "t2")], "id int, name string, tag string"))
    t.update_where(F.col("id") == 1, {"tag": "added"})
    d = {r.id: r for r in snapshot_diff(t, 0, 2, "id").collect()}
    assert d[1].status == "MODIFIED"
    assert d[1].changed_cells["tag"]["new"] == "added"
    assert d[2].status == "NEW"


def test_concurrent_commit_refused(spark, table, monkeypatch):
    """A racing writer's commit must never be clobbered: a writer holding a
    stale view that tries to publish an already-taken version raises
    instead of overwriting."""
    import json as _json
    import os

    # a concurrent writer lands version 1 first
    racing = os.path.join(table._commits_dir, "1.json")
    with open(racing, "w") as fh:
        _json.dump(table._read_commit(0).__dict__ | {"version": 1, "parent": 0}, fh)
    racing_content = open(racing).read()
    # our writer read latest=0 BEFORE the racer committed (stale view)
    monkeypatch.setattr(table, "latest_version", lambda: 0)
    with pytest.raises(ConcurrentCommitError):
        table._publish(table.read(version=0), "append")
    assert open(racing).read() == racing_content  # racer's commit untouched


def test_compact_and_cluster(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "cp"))
    t.create_or_replace(spark.range(1000).repartition(16).withColumn("k", F.col("id") % 7))
    c = t.compact(target_partitions=2, cluster_by=["k"])
    assert c.operation == "compact"
    assert t.read().count() == 1000
    # fewer data files after compaction; one segment entry holds the state
    import glob, os

    assert len(c.files) == 1
    files = glob.glob(os.path.join(c.files[0]["path"], "*.parquet"))
    assert 0 < len(files) <= 2


def test_expire_snapshots(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "gc"))
    t.create_or_replace(spark.range(3))
    t.append(spark.range(3, 5))
    t.append(spark.range(5, 6))
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [0, 1]
    assert t.versions() == [2]
    assert t.read().count() == 6
    with pytest.raises(ExpiredVersionError):
        t.read(version=0)
    # the reference UX: expired version + fallback → latest
    assert t.read(version=0, fallback_to_latest=True).count() == 6


def test_catalog_facade(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path), namespace="ns")
    cat.create_namespace()
    cat.table("alpha").create_or_replace(spark.range(3))
    cat.table("beta").create_or_replace(spark.range(2))
    assert cat.list_tables() == ["alpha", "beta"]
    assert [(r.col_name, r.data_type) for r in cat.describe("alpha").collect()] == [
        ("id", "bigint")
    ]
    with pytest.raises(ValueError):
        cat.table("bad-name!")


def test_engine_insert_into_decimal_column(spark, tmp_path):
    """Typed insert through the facade into a DECIMAL column: Spark's type
    verifier rejects Python float for DecimalType, so get_cast_val must
    produce a real Decimal."""
    from decimal import Decimal

    from datalake_on_prem_system_spark.engine import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"), namespace="ns")
    eng.write_table(
        "prices",
        spark.createDataFrame(
            [(1, Decimal("10.50"))], "id int, price decimal(10,2)"
        ),
    )
    eng.insert("prices", {"id": "2", "price": "3.25"})
    rows = {r.id: r.price for r in eng.read("prices").collect()}
    assert rows == {1: Decimal("10.50"), 2: Decimal("3.25")}


def test_engine_query_registers_only_named_tables(spark, tmp_path):
    """A SQL call registers the catalog tables the statement names (as
    case-insensitive identifier tokens) and no other; a named table is
    re-resolved per call, so a commit between two calls shows up."""
    from datalake_on_prem_system_spark.engine import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"), namespace="ns")
    for name in ("rv_named", "rv_other"):
        spark.catalog.dropTempView(name)
        eng.write_table(name, spark.createDataFrame([(1, "a")], "id int, v string"))
    assert eng.query("SELECT count(*) AS n FROM RV_Named;").first().n == 1
    assert spark.catalog.tableExists("rv_named")
    assert not spark.catalog.tableExists("rv_other")
    eng.insert("rv_named", {"id": "2", "v": "b"})
    assert eng.query("select count(*) as n from rv_named").first().n == 2


def _all_data_files(entries):
    import glob
    import os

    out = {}
    for e in entries:
        for f in glob.glob(os.path.join(e["path"], "**", "*.parquet"), recursive=True):
            out[f] = (os.path.getsize(f), os.path.getmtime(f))
    return out


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """File-granular COW: a merge touching a few keys must carry every
    untouched bucket's files forward byte-identical (same path, size,
    mtime) — not rewrite the table."""
    t = LakeTable(spark, str(tmp_path / "fg"))
    base = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # first merge establishes the bucket layout
    t.merge(base, pk="k")
    c1 = t._read_commit(t.latest_version())
    assert c1.bucket_spec is not None and c1.bucket_spec["pk"] == "k"
    before = _all_data_files(c1.files)

    # second merge touches 3 keys → at most 3 buckets rewritten
    changes = spark.createDataFrame(
        [(5, -5), (1000, -1000), (1999, -1999)], "k long, v long"
    )
    t.merge(changes, pk="k")
    c2 = t._read_commit(t.latest_version())
    carried = [e for e in c2.files if e["path"] in {e2["path"] for e2 in c1.files}]
    rewritten = [e for e in c2.files if e["path"] not in {e2["path"] for e2 in c1.files}]
    assert len(rewritten) <= 3
    assert len(carried) >= len(c1.files) - 3
    after = _all_data_files(carried)
    for path, sig in after.items():
        assert before[path] == sig, f"carried file was rewritten: {path}"
    # and the merge is still correct
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[5] == -5 and rows[1000] == -1000 and rows[1999] == -1999
    assert rows[6] == 12 and len(rows) == 2000


def test_append_and_insert_write_only_the_batch(spark, tmp_path):
    """append/insert are O(batch): parent files carried verbatim, the new
    segment holds only the new rows."""
    t = LakeTable(spark, str(tmp_path / "ap"))
    t.create_or_replace(spark.range(10_000).withColumn("v", F.col("id") * 2))
    c0 = t._read_commit(0)
    t.append(spark.range(10_000, 10_003).withColumn("v", F.col("id") * 2))
    c1 = t._read_commit(1)
    new_entries = [e for e in c1.files if e["path"] not in {x["path"] for x in c0.files}]
    assert sum(e["n_rows"] for e in new_entries) == 3
    assert {x["path"] for x in c0.files} <= {x["path"] for x in c1.files}
    t.insert_rows([{"id": 10_003, "v": 0}])
    c2 = t._read_commit(2)
    newest = [e for e in c2.files if e["path"] not in {x["path"] for x in c1.files}]
    assert sum(e["n_rows"] for e in newest) == 1
    assert t.read().count() == 10_004


def test_mor_delta_merge_roundtrip(spark, tmp_path):
    """Merge-on-read: a delta commit writes only the batch, carries every
    base file, and read-time resolution applies update/delete/insert."""
    t = LakeTable(spark, str(tmp_path / "mor"))
    t.create_or_replace(
        spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
        properties={"write.merge.mode": "mor"},
    )
    t.merge(spark.createDataFrame([(0, 0)], "k long, v long"), pk="k")  # bucketize
    c1 = t._read_commit(t.latest_version())
    before = _all_data_files(c1.files)

    src = spark.createDataFrame(
        [(5, -5, "u"), (7, None, "d"), (5000, 1, "c")], "k long, v long, op string"
    )
    t.merge(src, pk="k", op_col="op")
    c2 = t._read_commit(t.latest_version())
    # base files carried byte-identical; only delta entries are new
    deltas = [e for e in c2.files if e.get("delta") is not None]
    assert deltas and all(e["delta"] == c2.version for e in deltas)
    assert sum(e["n_rows"] for e in deltas) == 3
    carried = {e["path"] for e in c2.files} & {e["path"] for e in c1.files}
    assert carried == {e["path"] for e in c1.files}
    for path, sig in _all_data_files(c1.files).items():
        assert before[path] == sig
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[5] == -5 and 7 not in rows and rows[5000] == 1 and rows[6] == 12
    assert len(rows) == 1000  # 1000 - 1 delete + 1 insert
    assert c2.n_rows == -1  # deferred on the ingest hot path...
    hist = {r.version: r.n_rows for r in t.history().collect()}
    assert hist[c2.version] == 1000  # ...and resolved on demand, not file-sum


def test_mor_compaction_threshold_folds_deltas(spark, tmp_path):
    """After N delta commits the next merge resolves and folds everything
    back into base files (no delta entries left), with identical state."""
    t = LakeTable(spark, str(tmp_path / "morc"))
    t.create_or_replace(
        spark.range(100).select(F.col("id").alias("k"), F.lit(0).alias("v")),
        properties={"write.merge.mode": "mor", "write.merge.delta.compact-threshold": "2"},
    )
    t.merge(spark.createDataFrame([(0, 1)], "k long, v long"), pk="k")  # bucketize
    for i in range(2):  # two delta commits
        t.merge(spark.createDataFrame([(i, 100 + i)], "k long, v long"), pk="k")
        assert any(e.get("delta") is not None for e in t._read_commit(t.latest_version()).files)
    # third merge hits the threshold → compacting merge, zero deltas
    t.merge(spark.createDataFrame([(50, 999)], "k long, v long"), pk="k")
    c = t._read_commit(t.latest_version())
    assert not any(e.get("delta") is not None for e in c.files)
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[0] == 100 and rows[1] == 101 and rows[50] == 999 and len(rows) == 100


def test_mor_update_delete_over_deltas(spark, tmp_path):
    """update_where/delete_where on a table carrying deltas resolve the
    touched buckets and stay correct."""
    t = LakeTable(spark, str(tmp_path / "moru"))
    t.create_or_replace(
        spark.range(200).select(F.col("id").alias("k"), F.lit(1.0).alias("v")),
        properties={"write.merge.mode": "mor"},
    )
    t.merge(spark.createDataFrame([(0, 2.0)], "k long, v double"), pk="k")
    t.merge(spark.createDataFrame([(10, 3.0)], "k long, v double"), pk="k")  # delta
    t.update_where(F.col("k") == 10, {"v": 4.0})
    t.delete_where(F.col("k") == 11)
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[10] == 4.0 and 11 not in rows and rows[0] == 2.0 and len(rows) == 199
    # time travel back across the delta commits still resolves correctly
    assert {r.k: r.v for r in t.read(version=2).collect()}[10] == 3.0


def test_mor_insert_after_delta_delete_is_not_resurrected_deleted(spark, tmp_path):
    """A base write AFTER a MOR delta must outrank it: inserting a key that
    an earlier (pending) delta deleted brings the key back; appending a row
    for a key an earlier delta upserted ADDS a row (append never keys)."""
    t = LakeTable(spark, str(tmp_path / "morseq"))
    t.create_or_replace(
        spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")),
        properties={"write.merge.mode": "mor"},
    )
    t.merge(spark.createDataFrame([(0, 0.5)], "k long, v double"), pk="k")  # bucketize
    t.merge(
        spark.createDataFrame([(7, None, "d"), (9, 99.0, "u")], "k long, v double, op string"),
        pk="k",
        op_col="op",
    )  # pending delta: delete 7, upsert 9
    assert 7 not in {r.k for r in t.read().collect()}
    # later INSERT of the deleted key must win over the older delta
    t.insert_rows([{"k": 7, "v": 77.0}])
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[7] == 77.0 and rows[9] == 99.0
    # later APPEND of an upserted key adds a second row for it
    t.append(spark.createDataFrame([(9, 999.0)], "k long, v double"))
    vals = sorted(r.v for r in t.read().collect() if r.k == 9)
    assert vals == [99.0, 999.0]
    # a NEWER delta then re-deletes every row of the key, appended included
    t.merge(
        spark.createDataFrame([(9, None, "d")], "k long, v double, op string"),
        pk="k",
        op_col="op",
    )
    assert 9 not in {r.k for r in t.read().collect()}


def test_mor_duplicate_key_appends_survive_pending_deltas(spark, tmp_path):
    """Duplicate-key rows appended while a delta is pending must not be
    collapsed to one row per key by resolution."""
    t = LakeTable(spark, str(tmp_path / "mordup"))
    t.create_or_replace(
        spark.range(20).select(F.col("id").alias("k"), F.lit(1.0).alias("v")),
        properties={"write.merge.mode": "mor"},
    )
    t.merge(spark.createDataFrame([(0, 2.0)], "k long, v double"), pk="k")  # bucketize
    t.merge(spark.createDataFrame([(1, 3.0)], "k long, v double"), pk="k")  # pending delta
    t.append(spark.createDataFrame([(15, 10.0), (15, 11.0)], "k long, v double"))
    rows = [r.v for r in t.read().collect() if r.k == 15]
    assert sorted(rows) == [1.0, 10.0, 11.0]


def test_mor_empty_batch_at_compact_threshold_is_noop(spark, tmp_path):
    """An empty change batch must not trigger the threshold-compaction
    branch's full-table-rewrite commit."""
    t = LakeTable(spark, str(tmp_path / "morempty"))
    t.create_or_replace(
        spark.range(30).select(F.col("id").alias("k"), F.lit(0).alias("v")),
        properties={"write.merge.mode": "mor", "write.merge.delta.compact-threshold": "1"},
    )
    t.merge(spark.createDataFrame([(0, 1)], "k long, v long"), pk="k")  # bucketize
    t.merge(spark.createDataFrame([(1, 2)], "k long, v long"), pk="k")  # delta #1
    v_before = t.latest_version()
    empty = spark.createDataFrame([], "k long, v long")
    t.merge(empty, pk="k")  # at threshold, but empty → no commit
    assert t.latest_version() == v_before


def test_cow_merge_escalates_when_unbucketed_rows_could_outrank_deltas(spark, tmp_path):
    """A cow-mode merge on a table holding BOTH an unbucketed segment and
    pending deltas for untouched buckets must not resurrect delta-deleted
    keys when it absorbs the unbucketed rows at a newer sequence."""
    t = LakeTable(spark, str(tmp_path / "cowesc"))
    t.create_or_replace(
        spark.range(100).select(F.col("id").alias("k"), F.lit(1.0).alias("v")),
        properties={"write.merge.mode": "mor"},
    )
    t.merge(spark.createDataFrame([(0, 2.0)], "k long, v double"), pk="k")  # bucketize
    t.merge(
        spark.createDataFrame([(42, None, "d")], "k long, v double, op string"),
        pk="k",
        op_col="op",
    )  # pending delta delete of 42 (before the unbucketed segment lands)
    # schema-evolving append WITHOUT the pk column → unbucketed segment
    t.append(spark.createDataFrame([("x",)], "tag string"))
    assert 42 not in {r.k for r in t.read().collect()}
    # explicit cow merge touching (almost surely) a different bucket
    t.merge(spark.createDataFrame([(1, 9.0)], "k long, v double"), pk="k", mode="cow")
    rows = {r.k for r in t.read().collect() if r.k is not None}
    assert 42 not in rows and 1 in rows


def test_history_caches_resolved_mor_counts(spark, tmp_path):
    """history() backfills a delta commit's deferred n_rows into the commit
    JSON so later calls don't re-resolve."""
    t = LakeTable(spark, str(tmp_path / "morhist"))
    t.create_or_replace(
        spark.range(10).select(F.col("id").alias("k"), F.lit(0).alias("v")),
        properties={"write.merge.mode": "mor"},
    )
    t.merge(spark.createDataFrame([(0, 1)], "k long, v long"), pk="k")
    t.merge(spark.createDataFrame([(3, 5)], "k long, v long"), pk="k")  # delta
    v = t.latest_version()
    assert t._read_commit(v).n_rows == -1
    hist = {r.version: r.n_rows for r in t.history().collect()}
    assert hist[v] == 10
    assert t._read_commit(v).n_rows == 10  # cached back into the JSON


def test_point_dml_prunes_buckets_from_literals(spark, tmp_path, monkeypatch):
    """A pk-equality / pk-IN UPDATE/DELETE must compute touched buckets from
    the predicate's literals — zero table reads to locate them — and rewrite
    only those buckets. Guarded by poisoning _read_data: the fast path never
    resolves the full table."""
    t = LakeTable(spark, str(tmp_path / "pd"))
    base = spark.range(2000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    t.merge(base, pk="k")
    c1 = t._read_commit(t.latest_version())
    assert c1.bucket_spec and len([e for e in c1.files if e["bucket"] is not None]) > 4

    def _poisoned(self, commit):
        raise AssertionError("point DML resolved the full table")

    monkeypatch.setattr(LakeTable, "_read_data", _poisoned)
    t.update_where(F.col("k") == F.lit(7), {"v": -7})
    c2 = t._read_commit(t.latest_version())
    rewritten = [e for e in c2.files if e["path"] not in {x["path"] for x in c1.files}]
    assert len(rewritten) == 1  # exactly the one bucket holding k=7

    t.delete_where(F.col("k").isin(8, 9))  # IN-list point path too
    monkeypatch.undo()
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[7] == -7 and 8 not in rows and 9 not in rows
    assert len(rows) == 1998 and rows[6] == 12


def test_point_dml_arbitrary_predicate_still_scans_correctly(spark, tmp_path):
    """Non-point predicates keep the scan-based touched-bucket discovery."""
    t = LakeTable(spark, str(tmp_path / "ap2"))
    t.merge(
        spark.range(500).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v")),
        pk="k",
    )
    t.delete_where(F.col("v") == 3)
    ks = {r.k for r in t.read().collect()}
    assert ks == {i for i in range(500) if i % 7 != 3}


def test_pk_literal_extraction_shapes(spark):
    from datalake_on_prem_system_spark.lakehouse.table import _pk_literal_values

    assert _pk_literal_values(F.col("k") == F.lit(5), "k") == [5]
    assert _pk_literal_values(F.lit(5) == F.col("k"), "k") == [5]
    assert _pk_literal_values(F.col("k").isin(1, 2, 3), "k") == [1, 2, 3]
    # exact-name match only: a cased variant may be a DIFFERENT column under
    # spark.sql.caseSensitive=true, so it must fall back to the scan path
    assert _pk_literal_values(F.col("K") == F.lit("x"), "k") is None
    # NULL literal can never match a row -> empty touched set
    assert _pk_literal_values(F.col("k") == F.lit(None), "k") == []
    # everything else falls back to the scan path
    assert _pk_literal_values(F.col("v") == F.lit(5), "k") is None
    assert _pk_literal_values(F.col("k") > F.lit(5), "k") is None
    assert _pk_literal_values((F.col("k") == 1) | (F.col("k") == 2), "k") is None
    assert _pk_literal_values(F.col("k").isin(F.col("v"), 2), "k") is None


def test_legacy_bucket_layout_is_relaid_not_mispruned(spark, tmp_path):
    """A bucket_spec missing the current bucket-hash id (layout written by an
    older hash function) must NOT be trusted by probe-side bucket math; the
    next keyed write re-lays the table out and stamps the current id."""
    from datalake_on_prem_system_spark.lakehouse.table import BUCKET_HASH_ID

    t = LakeTable(spark, str(tmp_path / "lg"))
    t.merge(
        spark.range(100).select(F.col("id").alias("k"), F.col("id").alias("v")), pk="k"
    )
    c = t._read_commit(t.latest_version())
    assert c.bucket_spec.get("hash") == BUCKET_HASH_ID
    c.bucket_spec = {"pk": "k", "n": c.bucket_spec["n"]}  # simulate legacy layout
    t._rewrite_commit(c)

    t.merge(spark.createDataFrame([(5, -5)], "k long, v long"), pk="k")
    c2 = t._read_commit(t.latest_version())
    assert c2.bucket_spec.get("hash") == BUCKET_HASH_ID  # re-laid-out + stamped
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[5] == -5 and len(rows) == 100


def test_engine_point_dml_is_bucket_granular(spark, tmp_path):
    """The facade's /update/{t}/{id} and /delete/{t}/{id} path end-to-end:
    typed pk literal -> col(pk)==lit -> literal bucket pruning. Each point
    DML on a bucketed table must rewrite exactly one bucket."""
    from datalake_on_prem_system_spark.engine import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"), namespace="ns")
    src = spark.range(500).select(
        F.col("id").alias("item_id"), (F.col("id") * 2).alias("v")
    )
    eng.catalog.table("items").merge(src, pk="item_id", n_buckets=8)
    t = eng.catalog.table("items")
    c1 = t._read_commit(t.latest_version())

    eng.update("items", "7", {"v": "-7"})
    c2 = t._read_commit(t.latest_version())
    rewritten = [e for e in c2.files if e["path"] not in {x["path"] for x in c1.files}]
    assert len(rewritten) == 1, [e["path"] for e in rewritten]

    eng.delete("items", "8")
    c3 = t._read_commit(t.latest_version())
    rewritten = [e for e in c3.files if e["path"] not in {x["path"] for x in c2.files}]
    assert len(rewritten) == 1

    rows = {r.item_id: r.v for r in eng.read("items").collect()}
    assert rows[7] == -7 and 8 not in rows and len(rows) == 499


def test_point_dml_prunes_for_int_and_string_pks(spark, tmp_path):
    """Murmur3(int32) != Murmur3(int64): the literal probe must cast to the
    TABLE's pk type or it prunes the wrong bucket and the DML silently
    no-ops. Cover int32 and string pks end-to-end."""
    t1 = LakeTable(spark, str(tmp_path / "i32"))
    t1.merge(
        spark.createDataFrame([(i, i) for i in range(300)], "k int, v int"),
        pk="k",
        n_buckets=8,
    )
    c1 = t1._read_commit(t1.latest_version())
    t1.update_where(F.col("k") == F.lit(7), {"v": -7})
    c2 = t1._read_commit(t1.latest_version())
    assert len([e for e in c2.files if e["path"] not in {x["path"] for x in c1.files}]) == 1
    assert [r.v for r in t1.read().filter("k = 7").collect()] == [-7]

    t2 = LakeTable(spark, str(tmp_path / "spk"))
    t2.merge(
        spark.createDataFrame([(f"u{i}", i) for i in range(300)], "k string, v int"),
        pk="k",
        n_buckets=8,
    )
    d1 = t2._read_commit(t2.latest_version())
    t2.delete_where(F.col("k") == F.lit("u7"))
    d2 = t2._read_commit(t2.latest_version())
    assert len([e for e in d2.files if e["path"] not in {x["path"] for x in d1.files}]) == 1
    assert t2.read().filter("k = 'u7'").count() == 0
    assert t2.read().count() == 299


def test_cow_merge_type_conflict_falls_back_to_rewrite(spark, tmp_path):
    """A source column whose type conflicts with the target must trigger a
    full rewrite: a delta commit would declare the coerced schema while
    carried buckets keep the old physical type — a successful commit that
    breaks the next read."""
    t = LakeTable(spark, str(tmp_path / "tc"))
    t.merge(
        spark.createDataFrame([(i, i) for i in range(100)], "k int, v int"),
        pk="k",
        n_buckets=4,
    )
    c1 = t._read_commit(t.latest_version())
    t.merge(spark.createDataFrame([(2, 20.5)], "k int, v double"), pk="k")
    c2 = t._read_commit(t.latest_version())
    # full rewrite: nothing carried from the previous commit
    assert not ({e["path"] for e in c2.files} & {e["path"] for e in c1.files})
    rows = {r.k: r.v for r in t.read().collect()}  # read must not break
    assert rows[2] == 20.5 and rows[3] == 3.0 and len(rows) == 100


def test_compact_cluster_by_sorts_bucketed_files(spark, tmp_path):
    """cluster_by must survive to the written files on a BUCKETED table
    (the bucket repartition runs after compact's transform, so the sort is
    applied inside the segment writer): per-file rows sorted, enabling
    min/max data skipping."""
    import glob
    import os as _os

    t = LakeTable(spark, str(tmp_path / "cl"))
    df = spark.range(2000).select(
        (F.col("id") % 50).alias("k"),
        F.pmod(F.hash("id"), F.lit(997)).alias("ts"),
        F.col("id").alias("v"),
    )
    t.create_or_replace(df, bucket_by=("k", 4))
    t.compact(cluster_by=["ts"])
    c = t._read_commit(t.latest_version())
    checked = 0
    for e in c.files:
        for f in glob.glob(_os.path.join(e["path"], "*.parquet")):
            vals = [r.ts for r in spark.read.parquet(f).collect()]
            assert vals == sorted(vals), f"file not sorted by ts: {f}"
            checked += 1
    assert checked >= 4


def test_append_on_delta_table_defers_row_count(spark, tmp_path):
    """append/insert on a delta-bearing table are O(batch): the commit must
    NOT pay the key-resolution count (n_rows = -1, resolved lazily by
    history)."""
    t = LakeTable(spark, str(tmp_path / "lz"))
    t.create_or_replace(
        spark.createDataFrame([(1, 1), (2, 2)], "k int, v int"),
        properties={"write.merge.mode": "mor"},
        bucket_by=("k", 4),
    )
    t.merge(spark.createDataFrame([(1, 10)], "k int, v int"), pk="k")  # delta
    assert any(e.get("delta") is not None for e in t._read_commit(t.latest_version()).files)
    t.append(spark.createDataFrame([(9, 9)], "k int, v int"))
    v = t.latest_version()
    assert t._read_commit(v).n_rows == -1  # deferred, not resolved inline
    hist = {r.version: r.n_rows for r in t.history().collect()}
    assert hist[v] == 3
    assert t._read_commit(v).n_rows == 3  # cached back


def test_mor_null_pk_rows_match_cow_semantics(spark, tmp_path):
    """NULL pks never match in SQL: base NULL-pk rows survive any merge, a
    NULL-pk delete removes nothing, a NULL-pk upsert is a plain insert —
    in BOTH write modes (the MOR window resolution must not lump all
    NULL-pk rows into one key group)."""
    states = {}
    for mode in ("cow", "mor"):
        t = LakeTable(spark, str(tmp_path / mode))
        t.merge(spark.createDataFrame([(1, 1)], "k int, v int"), pk="k", mode=mode)
        t.append(spark.createDataFrame([(None, 100), (None, 101)], "k int, v int"))
        src = spark.createDataFrame(
            [(None, 999, "u"), (None, None, "d")], "k int, v int, op string"
        )
        t.merge(src, pk="k", op_col="op", mode=mode)
        states[mode] = sorted(
            ((r.k, r.v) for r in t.read().collect()), key=lambda x: (str(x[0]), str(x[1]))
        )
    assert states["cow"] == states["mor"]
    assert (None, 100) in states["mor"] and (None, 101) in states["mor"]
    assert (None, 999) in states["mor"] and (1, 1) in states["mor"]
    assert len(states["mor"]) == 4


def test_mor_read_profile_measures_real_deltas(spark):
    """The bench's read-amplification profile must measure MERGE-ON-READ
    states: the helper's internal assertions pin pending-delta counts at
    each labeled depth (0/4/8/after-compact) and a constant row count —
    a COW regression (round-7 review catch) would trip them."""
    from datalake_on_prem_system_spark.operators.lakehouse_ops import mor_read_profile

    from conftest import SF_SMALL

    out = mor_read_profile(spark, SF_SMALL)
    assert set(out) == {"deltas_0", "deltas_4", "deltas_8", "after_compact", "n_rows"}
    assert out["n_rows"] > 0


def test_partition_evolution_is_metadata_only_then_compact_relays_out(spark, tmp_path):
    """set_partitioning publishes O(metadata) (no segment write); the next
    compact() lands in the NEW hive layout; reads are identical across the
    whole sequence; pre-evolution versions stay time-travelable; pruning
    on the new layout reaches the scan as a PartitionFilter."""
    import os

    from pyspark.sql import functions as F

    from datalake_on_prem_system_spark.lakehouse import LakeTable
    from datalake_on_prem_system_spark.plans import capture_plan

    t = LakeTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], "xyz"[i % 3], i * 1.0) for i in range(30)],
        "id bigint, grp string, st string, x double",
    )
    t.create_or_replace(df.filter(F.col("id") % 2 == 0), partition_by=["grp"])
    t.append(df.filter(F.col("id") % 2 == 1))  # plain segment vs hive base
    want = {(r.id, r.grp, r.st, r.x) for r in df.collect()}
    assert {(r.id, r.grp, r.st, r.x) for r in t.read().collect()} == want

    c = t.set_partitioning(["st"])
    assert c.operation == "set_partitioning:st"
    # metadata-only: same file entries as the parent commit
    parent = t._read_commit(c.parent)
    assert [e["path"] for e in c.files] == [e["path"] for e in parent.files]
    assert {(r.id, r.grp, r.st, r.x) for r in t.read().collect()} == want

    t.compact()
    seg_dirs = [
        d for d in os.listdir(os.path.join(str(tmp_path / "t"), "data"))
        if d.startswith(str(t.latest_version()) + "-")
    ]
    assert len(seg_dirs) == 1
    leaves = os.listdir(os.path.join(str(tmp_path / "t"), "data", seg_dirs[0]))
    assert any(d.startswith("st=") for d in leaves), leaves
    assert {(r.id, r.grp, r.st, r.x) for r in t.read().collect()} == want
    # pre-evolution mixed-layout snapshot still reads
    assert {(r.id,) for r in t.read(version=1).select("id").collect()} == {
        (i,) for i in range(30)
    }
    # pruning on the evolved layout reaches the scan
    plan = capture_plan(t.read_where(F.col("st") == "x"))
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "st" in seg, f"expected st partition filter, got [{seg}]"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.set_partitioning(["nope"])


def test_partition_evolution_resolves_pending_mor_deltas(spark, tmp_path):
    """set_partitioning on a bucketed table with pending MOR deltas must
    not carry delta entries into a spec-less commit (that bricked reads —
    review-pass repro); it resolves them via a full rewrite into the new
    layout instead."""
    import os

    from pyspark.sql import functions as F

    from datalake_on_prem_system_spark.lakehouse import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, "xyz"[i % 3], i * 1.0) for i in range(20)],
        "id bigint, st string, x double",
    )
    t.create_or_replace(df, properties={"write.merge.mode": "mor"}, bucket_by=("id", 4))
    t.merge(
        spark.createDataFrame([(1, "x", 111.0)], "id bigint, st string, x double"),
        pk="id",
    )
    latest = t._read_commit(t.latest_version())
    assert any(e.get("delta") is not None for e in latest.files), "fixture needs a delta"

    c = t.set_partitioning(["st"])
    assert not any(e.get("delta") is not None for e in c.files)
    got = {r.id: r.x for r in t.read().collect()}
    assert got[1] == 111.0 and got[5] == 5.0 and len(got) == 20
    # the rewrite landed directly in the new hive layout
    seg = [
        d for d in os.listdir(os.path.join(str(tmp_path / "t"), "data"))
        if d.startswith(str(c.version) + "-")
    ]
    assert len(seg) == 1
    assert any(
        d.startswith("st=")
        for d in os.listdir(os.path.join(str(tmp_path / "t"), "data", seg[0]))
    )
    # un-partitioning a delta-free table stays metadata-only
    c2 = t.set_partitioning(None)
    assert [e["path"] for e in c2.files] == [e["path"] for e in c.files]
    assert {r.id: r.x for r in t.read().collect()} == got


def test_compression_property_reaches_parquet_footers(spark, tmp_path):
    """write.parquet.compression applies to every segment write — create,
    append, and MOR delta — and files() exposes the manifest."""
    import glob
    import os

    import pyarrow.parquet as pq

    from datalake_on_prem_system_spark.lakehouse import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([(i, i * 1.0) for i in range(10)], "id bigint, x double")
    t.create_or_replace(
        df,
        properties={"write.parquet.compression": "gzip", "write.merge.mode": "mor"},
        bucket_by=("id", 2),
    )
    t.append(spark.createDataFrame([(20, 2.0)], "id bigint, x double"))
    t.merge(spark.createDataFrame([(1, 111.0)], "id bigint, x double"), pk="id")

    parts = [
        p for p in glob.glob(
            os.path.join(str(tmp_path / "t"), "data", "**", "*.parquet"),
            recursive=True)
        if os.path.isfile(p)  # segment DIRS are also named *.parquet
    ]
    assert parts
    codecs = {
        pq.ParquetFile(p).metadata.row_group(0).column(0).compression
        for p in parts
        if pq.ParquetFile(p).metadata.num_row_groups
    }
    assert codecs == {"GZIP"}, codecs

    f = {r.path: r for r in t.files().collect()}
    assert sum(r.n_rows for r in f.values()) == 12  # 10 base + 1 append + 1 delta
    assert any(r.is_delta for r in f.values())
    assert all(r.seq is not None for r in f.values())

    # the Z-order rewrite is the one writer outside _write_segment — the
    # codec property must reach it too
    t2 = LakeTable(spark, str(tmp_path / "t2"))
    t2.create_or_replace(df, properties={"write.parquet.compression": "gzip"})
    t2.compact_clustered("x", n_ranges=2)
    parts2 = [
        p for p in glob.glob(
            os.path.join(str(tmp_path / "t2"), "data", "**", "*.parquet"),
            recursive=True)
        if os.path.isfile(p)
    ]
    newest = [p for p in parts2 if "/1-" in p.replace(str(tmp_path / "t2"), "")]
    assert newest
    assert {
        pq.ParquetFile(p).metadata.row_group(0).column(0).compression
        for p in newest if pq.ParquetFile(p).metadata.num_row_groups
    } == {"GZIP"}


def test_orphan_report_survives_schema_drifted_orphan(spark, tmp_path):
    """Round-12 verdict item #4: the orphan scan must not assume a single
    unified schema across data/ — an abandoned writer's segment may
    predate (or postdate) a schema evolution. Footer-metadata parsing is
    per-file, so a drifted orphan neither breaks the scan nor reads row
    data; its min_orderkey is NULL (no such column) and it is flagged
    reclaimable."""
    import os

    from datalake_on_prem_system_spark.operators.lakehouse_ops import (
        orphan_report,
    )

    root = str(tmp_path / "t")
    t = LakeTable(spark, root)
    live = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 11)], "o_orderkey long, o_totalprice double"
    )
    t.create_or_replace(live)
    # the drifted orphan: entirely different column set
    spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "k string, v int"
    ).write.parquet(os.path.join(root, "data", "99-drifted.parquet"))

    rows = {
        (r.n_rows, r.min_orderkey, r.referenced, r.reclaimable)
        for r in orphan_report(spark, root).collect()
    }
    assert (10, 1, True, False) in rows  # live segment, footer min == data min
    assert (3, None, False, True) in rows  # drifted orphan: scanned, flagged


def test_appended_between_reads_only_added_segments(spark, tmp_path):
    """Round-12 verdict item #5: the incremental-view change input must be
    O(batch) — `appended_between` resolves ONLY the segments the append
    commits introduced (inputFiles pin), returns exactly the appended
    rows, and refuses non-append history (a merge rewrites rows, so
    added-segment reads would be an unfaithful delta)."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create_or_replace(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    )
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    t.append(spark.createDataFrame([(4, "d"), (5, "e")], "k long, v string"))

    v0_paths = {e["path"] for e in t.commit_at(0).files}
    delta = t.appended_between(0, 2)
    assert sorted((r.k, r.v) for r in delta.collect()) == [
        (3, "c"), (4, "d"), (5, "e"),
    ]
    touched = {
        f.replace("file:", "").replace("///", "/") for f in delta.inputFiles()
    }
    assert touched  # non-empty: the pin below must actually bite
    assert not any(
        f.startswith(p) for f in touched for p in v0_paths
    ), "refresh read a base segment"

    # single-batch slice reads only THAT batch's segment
    one = t.appended_between(1, 2)
    assert sorted(r.k for r in one.collect()) == [4, 5]

    # empty range → empty frame, stable schema
    assert t.appended_between(2, 2).count() == 0

    # non-append history refuses
    t.merge(
        spark.createDataFrame([(1, "A")], "k long, v string"), pk="k"
    )
    with pytest.raises(ValueError, match="append-only"):
        t.appended_between(0, 3)


def test_incremental_stats_merge_equals_single_pass(spark, tmp_path):
    """The property lh_analyze_incremental rests on: HLL sketches built
    per batch and combined with hll_union_agg produce the IDENTICAL
    estimate as one whole-table sketch (register-wise max), so O(batch)
    stats maintenance loses nothing vs a full rescan. Also pins one
    stats row per commit and exact count/min/max folds."""
    from pyspark.sql import functions as F

    df = spark.range(5000).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 731).alias("k"),
        (F.col("id") % 97 * 1.5).alias("p"),
    )
    batches = [df.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    stats = LakeTable(spark, str(tmp_path / "stats"))
    for i, b in enumerate(batches):
        row = b.agg(
            F.hll_sketch_agg("k").alias("sk"),
            F.count(F.lit(1)).alias("n"),
            F.min("p").alias("mn"),
            F.max("p").alias("mx"),
        )
        (stats.create_or_replace if i == 0 else stats.append)(row)
    assert stats.read().count() == 3  # one stats row per commit
    merged = stats.read().agg(
        F.hll_sketch_estimate(F.expr("hll_union_agg(sk)")).alias("e"),
        F.sum("n").alias("n"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    ).head()
    whole = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("k")).alias("e")
    ).head().e
    assert merged.e == whole  # union of partials == single pass, exactly
    assert merged.n == 5000
    assert merged.mn == 0.0 and merged.mx == 96 * 1.5


def test_signed_changes_touched_segments_and_zset_semantics(spark, tmp_path):
    """Round-13 verdict item #4: the retraction IVM change input.
    `signed_changes_between` must (a) net to the exact row-level Z-set
    delta (delete → -1, update → -1 old/+1 new, unchanged rows of
    rewritten buckets cancel), (b) read ONLY segments the commit touched
    — carried-forward bucket files never open (inputFiles pin), and
    (c) refuse merge-on-read history."""
    from pyspark.sql import functions as F

    t = LakeTable(spark, str(tmp_path / "t"))
    t.create_or_replace(
        spark.createDataFrame(
            [(k, f"a{k}") for k in range(16)], "k long, v string"
        ),
        bucket_by=("k", 4),
    )
    t.merge(
        spark.createDataFrame(
            [(0, "X", "u"), (4, "a4", "d")], "k long, v string, op string"
        ),
        pk="k",
        op_col="op",
    )

    d = t.signed_changes_between(0, 1)
    net = {
        (r.k, r.v): r.w
        for r in d.groupBy("k", "v")
        .agg(F.sum("_weight").alias("w"))
        .filter(F.col("w") != 0)
        .collect()
    }
    assert net == {(0, "a0"): -1, (0, "X"): 1, (4, "a4"): -1}

    v0_paths = {e["path"] for e in t.commit_at(0).files}
    v1_paths = {e["path"] for e in t.commit_at(1).files}
    carried = v0_paths & v1_paths
    assert carried, "merge must carry untouched buckets forward"
    touched = {
        f.replace("file:", "").replace("///", "/") for f in d.inputFiles()
    }
    assert touched
    assert not any(
        f.startswith(p) for f in touched for p in carried
    ), "signed delta read a carried-forward base segment"

    # append parity: an append commit is the weight-+1 special case
    t.append(spark.createDataFrame([(99, "z")], "k long, v string"))
    ap = t.signed_changes_between(1, 2).collect()
    assert [(r.k, r.v, r._weight) for r in ap] == [(99, "z", 1)]

    # merge-on-read history refuses (a delta file shadows, not replaces)
    t.merge(
        spark.createDataFrame([(1, "B")], "k long, v string"),
        pk="k",
        mode="mor",
    )
    with pytest.raises(ValueError, match="copy-on-write"):
        t.signed_changes_between(2, 3)


def test_deletion_vectors_semantics_and_guards(spark, tmp_path):
    """DV pins: (a) no data file is rewritten across stacked DV commits
    (entry paths carried verbatim, inputFiles ⊆ original segments + none
    pruned away), (b) the second DV subtracts already-tombstoned
    positions so n_rows accounting is exact, (c) appends after a DV are
    never tombstoned, (d) rewriting DML refuses, (e) compact()
    materializes the DV-applied state and drops the sidecars, (f) time
    travel reads pre-DV state."""
    from pyspark.sql import functions as F

    t = LakeTable(spark, str(tmp_path / "t"))
    t.create_or_replace(
        spark.createDataFrame(
            [(k, "u" if k % 3 == 0 else "n") for k in range(10)],
            "k long, tag string",
        )
    )
    v0_paths = {e["path"] for e in t.commit_at(0).files}

    t.delete_vectors(F.col("k") % 2 == 0)        # kills 0,2,4,6,8
    t.delete_vectors(F.col("tag") == "u")        # kills 3,9 (0,6 already)
    c2 = t.commit_at(2)
    assert v0_paths <= {e["path"] for e in c2.files}
    dv_entries = [e for e in c2.files if e.get("dv")]
    assert [e["n_rows"] for e in dv_entries] == [5, 2]  # stacked subtraction
    assert c2.n_rows == 3
    assert sorted(r.k for r in t.read().collect()) == [1, 5, 7]

    # appends after the DV commits are position-exempt
    t.append(spark.createDataFrame([(20, "u")], "k long, tag string"))
    assert sorted(r.k for r in t.read().collect()) == [1, 5, 7, 20]

    # read only ever touches base segments + sidecars; base bytes carried
    touched = {
        f.replace("file:", "").replace("///", "/")
        for f in t.read().inputFiles()
    }
    assert any(any(f.startswith(p) for p in v0_paths) for f in touched)

    # rewriting DML refuses on a DV-bearing state
    with pytest.raises(ValueError, match="deletion-vector"):
        t.delete_where(F.col("k") == 1)
    with pytest.raises(ValueError, match="deletion-vector"):
        t.update_where(F.col("k") == 1, {"tag": "x"})
    with pytest.raises(ValueError, match="deletion-vector"):
        t.merge(spark.createDataFrame([(1, "z")], "k long, tag string"), pk="k")
    with pytest.raises(ValueError, match="copy-on-write"):
        t.signed_changes_between(0, 2)

    # time travel reads the pre-DV state
    assert t.read(version=0).count() == 10
    assert t.read(version=1).count() == 5

    # compact materializes and drops the sidecars; DML reopens
    t.compact()
    latest = t.commit_at()
    assert not any(e.get("dv") for e in latest.files)
    assert sorted(r.k for r in t.read().collect()) == [1, 5, 7, 20]
    t.delete_where(F.col("k") == 20)
    assert sorted(r.k for r in t.read().collect()) == [1, 5, 7]
