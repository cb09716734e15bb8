"""Tests of the benchmark's own generators and checks (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os

import pytest

from perfbench import checks, gen


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


def test_generator_same_seed_same_bytes(tmp_path):
    for run in ("a", "b"):
        gen.write_tables(gen.warehouse_tables(7), str(tmp_path / run / "fixture"))
        gen.CdcLog(7).write_files(str(tmp_path / run / "cdc"))
    for sub in ("fixture", "cdc"):
        assert _digest(str(tmp_path / "a" / sub)) == _digest(str(tmp_path / "b" / sub))
    assert gen.serve_round(7, 0) == gen.serve_round(7, 0)


def test_generator_seed_changes_inputs():
    a, b = gen.CdcLog(1), gen.CdcLog(2)
    assert a.envelope_lines(0) != b.envelope_lines(0)
    assert sorted(gen.serve_round(1, 0)) == sorted(gen.serve_round(2, 0))


def test_cdc_files_have_increasing_mtimes(tmp_path):
    gen.CdcLog(3).write_files(str(tmp_path))
    names = sorted(os.listdir(tmp_path))
    mtimes = [os.stat(tmp_path / n).st_mtime for n in names]
    assert len(names) == gen.CDC_BATCHES
    assert all(x < y for x, y in zip(mtimes, mtimes[1:]))


def test_cdc_order_keys_unique_per_key():
    log = gen.CdcLog(4)
    seen = set()
    for batch in log.batches:
        for _, row in batch:
            assert (row[0], row[4]) not in seen
            seen.add((row[0], row[4]))


def test_cdc_check_accepts_replay_and_rejects_a_dropped_change():
    log = gen.CdcLog(5, n_batches=3, batch_rows=300, seed_keys=500)
    good = list(checks.replay_cdc(log).values())
    assert checks.check_cdc(good, log) == []
    # drop the last change of some updated key: it keeps an older image
    later: set[int] = set()
    target = None
    for b in reversed(range(len(log.batches))):
        for i in reversed(range(len(log.batches[b]))):
            op, row = log.batches[b][i]
            if op == "u" and row[0] not in later:
                target = (b, i)
                break
            later.add(row[0])
        if target:
            break
    b, i = target
    dropped = gen.CdcLog(5, n_batches=3, batch_rows=300, seed_keys=500)
    del dropped.batches[b][i]
    bad = list(checks.replay_cdc(dropped).values())
    assert checks.check_cdc(bad, log)


def test_cdc_check_rejects_a_resurrected_delete():
    log = gen.CdcLog(6, n_batches=2, batch_rows=300, seed_keys=500)
    state = checks.replay_cdc(log)
    deleted = next(row for batch in log.batches for op, row in batch
                   if op == "d" and row[0] not in state)
    assert checks.check_cdc([*state.values(), deleted], log)


@pytest.fixture(scope="module")
def model():
    return checks.ServeModel(gen.warehouse_tables(8))


def test_model_sql_rejects_an_altered_model_row(model):
    want = model.sql("q6", "1996-01-01")
    assert checks.same_rows(want, model.sql("q6", "1996-01-01")) == ""
    key = model.con.execute(
        "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_shipdate >= '1996-01-01' "
        "AND l_shipdate < '1997-01-01' AND l_discount BETWEEN 0.05 AND 0.07 "
        "AND l_quantity < 24 LIMIT 1").fetchone()
    model.con.execute(
        "UPDATE lineitem SET l_extendedprice = l_extendedprice + 1 "
        "WHERE l_orderkey = ? AND l_linenumber = ?", list(key))
    try:
        assert checks.same_rows(want, model.sql("q6", "1996-01-01"))
    finally:
        model.con.execute(
            "UPDATE lineitem SET l_extendedprice = l_extendedprice - 1 "
            "WHERE l_orderkey = ? AND l_linenumber = ?", list(key))


def test_point_read_check_rejects_an_altered_row(model):
    row = model.order_row(42)
    assert checks.same_rows([row], [model.order_row(42)]) == ""
    altered = (*row[:3], row[3] + 0.01, *row[4:])
    assert checks.same_rows([altered], [row])
    assert checks.same_rows([], [row])


def test_diff_and_change_keys_follow_the_op_log(model):
    v = max(model.counts, default=0)
    before = model.order_row(7)
    model.update(7, {"o_totalprice": 1.0})
    model.record(v + 1, 7, before, model.order_row(7))
    model.insert({"o_orderkey": 10**9, "o_custkey": 1, "o_orderstatus": "O",
                  "o_totalprice": 2.0, "o_orderdate": "1996-01-15",
                  "o_orderpriority": "1-URGENT"})
    model.record(v + 2, 10**9, None, model.order_row(10**9))
    before = model.order_row(10**9)
    model.delete(10**9)
    model.record(v + 3, 10**9, before, model.order_row(10**9))
    assert model.diff_keys(v, v + 2) == {7: "MODIFIED", 10**9: "NEW"}
    # inserted then deleted inside the interval: no net difference
    assert 10**9 not in model.diff_keys(v, v + 3)
    assert model.change_keys(v, v + 3) == {(7, v + 1), (10**9, v + 2), (10**9, v + 3)}


def test_search_check(model):
    words = ["spark", "merge"]
    n = model.search_count(words)
    docs = model.con.execute(
        "SELECT doc_id, text, lang, source, n_chars FROM documents "
        "WHERE contains(text, 'spark') AND contains(text, 'merge') LIMIT 20").fetchall()
    assert checks.check_search(docs, words, 20, n) == []
    assert checks.check_search(docs[:-1], words, 20, n)  # a hit missing
    lacking = model.con.execute(
        "SELECT doc_id, text, lang, source, n_chars FROM documents "
        "WHERE NOT contains(text, 'merge') LIMIT 1").fetchall()
    assert checks.check_search(docs[:-1] + lacking, words, 20, n)


def test_operator_check_rejects_altered_values_and_columns():
    oracle = (["a", "b"], [(1, 0.5), (2, 1.5)])
    assert checks.check_operator("q", ["b", "a"], [(1.5, 2), (0.5, 1)], oracle) == []
    assert checks.check_operator("q", ["a", "b"], [(1, 0.5), (2, 1.6)], oracle)
    assert checks.check_operator("q", ["a", "c"], [(1, 0.5), (2, 1.5)], oracle)
    assert checks.check_operator("q", ["a", "b"], [(1, 0.5)], oracle)


def test_gmean_of_medians_moves_with_every_kind():
    from perfbench.run import gmean_of_medians

    lat = {"read": [0.5] * 8 + [9.0], "sql": [0.4, 0.4, 0.6], "search": [0.9]}
    base = gmean_of_medians(lat)
    assert base == pytest.approx((0.5 * 0.4 * 0.9) ** (1 / 3))
    # the rarest kind twice as slow moves it by 2 ** (1 / kinds)
    slow = {**lat, "search": [1.8]}
    assert gmean_of_medians(slow) / base == pytest.approx(2 ** (1 / 3))


def test_cdc_seed_file_holds_the_seed_rows(tmp_path):
    import pyarrow.parquet as pq

    log = gen.CdcLog(9, n_batches=1, batch_rows=10, seed_keys=50)
    log.write_seed(str(tmp_path / "seed.parquet"))
    tbl = pq.read_table(str(tmp_path / "seed.parquet"))
    assert tbl.column_names == gen.CDC_COLUMNS
    assert [tuple(r.values()) for r in tbl.to_pylist()] == log.seed_rows
