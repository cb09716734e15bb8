from __future__ import annotations

import os

from datalake_on_prem_system_spark.cli import main


def test_engine_ingest_direct_with_pk_upserts(spark, tmp_path):
    """ingest(mode='direct', pk=...) on an existing table must upsert by
    key, not blind-append duplicates."""
    from datalake_on_prem_system_spark.engine import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    c1 = tmp_path / "c1.csv"
    c1.write_text("id,name\n1,one\n2,two\n")
    c2 = tmp_path / "c2.csv"
    c2.write_text("id,name\n2,two-updated\n3,three\n")
    eng.ingest("items", str(c1), mode="direct")
    eng.ingest("items", str(c2), mode="direct", pk="id")
    rows = {r.id: r.name for r in eng.read("items").collect()}
    assert rows == {1: "one", 2: "two-updated", 3: "three"}


def test_cli_ingest_read_crud_history(spark, tmp_path, capsys):
    csv = tmp_path / "in.csv"
    csv.write_text("id,name,price\n1,alpha,10.5\n2,beta,20.5\n")
    wh = str(tmp_path / "wh")

    assert main(["--warehouse", wh, "ingest", str(csv), "items"]) == 0
    assert "table now has 2 rows" in capsys.readouterr().out

    assert main(["--warehouse", wh, "tables"]) == 0
    assert "items" in capsys.readouterr().out

    assert main(["--warehouse", wh, "insert", "items", "id=3", "name=gamma", "price=30.5"]) == 0
    assert main(["--warehouse", wh, "update", "items", "1", "price=11.5"]) == 0
    assert main(["--warehouse", wh, "delete", "items", "2"]) == 0
    capsys.readouterr()

    assert main(["--warehouse", wh, "read", "items", "--columns", "id,price"]) == 0
    out = capsys.readouterr().out
    assert "11.5" in out and "30.5" in out and "20.5" not in out

    assert main(["--warehouse", wh, "history", "items"]) == 0
    out = capsys.readouterr().out
    for op in ("create_or_replace", "insert", "update", "delete"):
        assert op in out

    assert main(["--warehouse", wh, "travel", "items", "0"]) == 0
    assert "beta" in capsys.readouterr().out

    assert main(["--warehouse", wh, "diff", "items", "0", "3"]) == 0
    out = capsys.readouterr().out
    assert "MODIFIED" in out or "NEW" in out

    assert main(["--warehouse", wh, "sql", "SELECT count(*) AS n FROM items;"]) == 0
    assert main(["--warehouse", wh, "search", "items", "gamma"]) == 0
    assert "gamma" in capsys.readouterr().out

    assert main(["--warehouse", wh, "clone", "items", "items_fork"]) == 0
    assert "zero-copy" in capsys.readouterr().out
    assert main(["--warehouse", wh, "update", "items_fork", "1", "price=77.7"]) == 0
    capsys.readouterr()
    assert main(["--warehouse", wh, "read", "items_fork", "--columns", "id,price"]) == 0
    assert "77.7" in capsys.readouterr().out
    assert main(["--warehouse", wh, "read", "items", "--columns", "id,price"]) == 0
    assert "11.5" in capsys.readouterr().out  # original untouched


    capsys.readouterr()
    assert main(["--warehouse", wh, "changes", "items", "0", "3"]) == 0
    out = capsys.readouterr().out
    assert "_change_type" in out and ("update" in out or "insert" in out)

    # tag the current items version, travel by tag name
    capsys.readouterr()
    assert main(["--warehouse", wh, "tag", "items", "prerestore"]) == 0
    assert "tagged items@" in capsys.readouterr().out
    assert main(["--warehouse", wh, "travel", "items", "prerestore"]) == 0
    assert "11.5" in capsys.readouterr().out

    # restore items to the pre-update/delete create state (version 0)
    assert main(["--warehouse", wh, "restore", "items", "0"]) == 0
    assert "restored" in capsys.readouterr().out
    assert main(["--warehouse", wh, "read", "items", "--columns", "id,price"]) == 0
    out = capsys.readouterr().out
    assert "20.5" in out and "11.5" not in out


def test_cli_compact_zorder(spark, tmp_path, capsys):
    """`compact --zorder-by a,b` rewrites into range segments through the
    CLI surface."""
    from datalake_on_prem_system_spark.engine import LakeEngine

    wh = str(tmp_path / "wh")
    eng = LakeEngine(spark, wh)
    eng.write_table(
        "m",
        spark.createDataFrame(
            [(i, i % 13, (i * 7) % 11) for i in range(500)],
            "id bigint, a bigint, b bigint",
        ),
    )
    assert main(["--warehouse", wh, "compact", "m", "--zorder-by", "a,b",
                 "--ranges", "4"]) == 0
    assert "compacted m" in capsys.readouterr().out
    t = eng.catalog.table("m")
    assert 1 < len(t.commit_at().files) <= 4
    assert t.read().count() == 500


def test_cli_compact_zorder_rejects_conflicting_flags(spark, tmp_path):
    import pytest as _pytest

    from datalake_on_prem_system_spark.engine import LakeEngine

    wh = str(tmp_path / "wh")
    LakeEngine(spark, wh).write_table(
        "m2", spark.createDataFrame([(1, 2)], "id bigint, a bigint")
    )
    with _pytest.raises(SystemExit, match="conflicts"):
        main(["--warehouse", wh, "compact", "m2", "--zorder-by", "a",
              "--cluster-by", "id"])


def test_cli_partition_evolution(spark, tmp_path, capsys):
    csv = tmp_path / "in.csv"
    csv.write_text("id,grp,price\n1,a,10.5\n2,b,20.5\n3,a,30.5\n")
    wh = str(tmp_path / "wh")
    assert main(["--warehouse", wh, "ingest", str(csv), "items"]) == 0
    capsys.readouterr()
    assert main(["--warehouse", wh, "partition", "items", "--by", "grp"]) == 0
    assert "applies at next compact" in capsys.readouterr().out
    assert main(["--warehouse", wh, "compact", "items"]) == 0
    capsys.readouterr()
    import os

    data = os.path.join(wh, "trino_db", "items", "data")
    newest = sorted(os.listdir(data))[-1]
    assert any(d.startswith("grp=") for d in os.listdir(os.path.join(data, newest)))
    assert main(["--warehouse", wh, "read", "items"]) == 0
    out = capsys.readouterr().out
    assert "10.5" in out and "30.5" in out


def test_cli_repl_runs_verbs_from_stdin(spark, tmp_path, capsys, monkeypatch):
    """`lake repl` runs one verb per line through the CLI's parser on one
    engine: a bad verb or bad SQL prints an error and the loop goes on, and
    a blank line repeats nothing."""
    import io

    csv = tmp_path / "in.csv"
    csv.write_text("id,name\n1,alpha\n2,beta\n")
    script = "\n".join([
        "tables",
        f"ingest {csv} items",
        "read items",
        "frobnicate items",
        "",
        'sql "SELECT * FROM no_such_table"',
        "insert items id=3 name='gamma ray'",
        "read items --columns name",
    ]) + "\n"
    monkeypatch.setattr("sys.stdin", io.StringIO(script))
    assert main(["--warehouse", str(tmp_path / "wh"), "repl"]) == 0
    cap = capsys.readouterr()
    assert cap.err.count("invalid choice: 'frobnicate'") == 1
    assert "TABLE_OR_VIEW_NOT_FOUND" in cap.err
    assert cap.out.count("table now has 2 rows") == 1
    assert cap.out.count("inserted 1 row") == 1
    # both reads ran; only the second sees the inserted row
    assert cap.out.count("alpha") == 2
    assert cap.out.count("gamma ray") == 1
