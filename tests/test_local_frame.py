"""Driver-known frames built from Arrow (``lakehouse.frames.local_frame``).

Job counts are read from ``statusTracker`` under a fresh job group: the
bucket probe and a bucketed point read must not pay Python-RDD jobs, and
the bloom attach and a cached search must not pay parquet schema-inference
jobs. Values must equal ``createDataFrame(<list>)``'s, also in a process
whose local time zone is not UTC.
"""

from __future__ import annotations

import ast
import datetime as dt
import os
import subprocess
import sys
import uuid
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from datalake_on_prem_system_spark.lakehouse import LakeTable
from datalake_on_prem_system_spark.lakehouse.frames import local_frame
from datalake_on_prem_system_spark.lakehouse.table import _bucket_expr

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAKEHOUSE = os.path.join(ROOT, "datalake_on_prem_system_spark", "lakehouse")


def _jobs(spark, fn):
    """(stage names of each job ``fn`` ran, fn's result)."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    names = []
    for job in sorted(tracker.getJobIdsForGroup(group)):
        stages = tracker.getJobInfo(job).stageIds
        names.append([tracker.getStageInfo(s).name for s in stages])
    return names, out


def _parquet_jobs(names) -> int:
    return sum(
        1 for stages in names if all(s.startswith("parquet at") for s in stages)
    )


def _bucketed(spark, root, n=8):
    t = LakeTable(spark, str(root))
    t.create_or_replace(
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(64)], "id bigint, name string"
        ),
        bucket_by=("id", n),
    )
    return t


# ---------------------------------------------------------------- job counts


def test_bucket_probe_runs_no_job(spark, tmp_path):
    t = _bucketed(spark, tmp_path / "t")
    prev = t.commit_at()
    names, touched = _jobs(
        spark, lambda: t._buckets_for_literals([5, 6, 5], "id", 8, prev)
    )
    assert names == []
    assert touched and len(touched) <= 2


def test_bucketed_point_read_runs_one_job(spark, tmp_path):
    t = _bucketed(spark, tmp_path / "t")
    names, rows = _jobs(spark, lambda: t.read_where(F.col("id") == 5).collect())
    assert [(r.id, r.name) for r in rows] == [(5, "n5")]
    assert len(names) == 1, names


def test_bloom_insert_runs_no_schema_inference_job(spark, tmp_path):
    """The bloom attach reads its segment with the writer's schema: a bloom
    table's insert runs exactly the parquet jobs a plain table's does (the
    write), no extra inference job."""
    counts = []
    for name, props in (("plain", None), ("bloom", {"bloom.columns": "name"})):
        t = LakeTable(spark, str(tmp_path / name))
        t.create_or_replace(
            spark.createDataFrame([(1, "a")], "id bigint, name string"),
            properties=props,
        )
        names, _ = _jobs(spark, lambda: t.insert_rows([{"id": 2, "name": "b"}]))
        counts.append(_parquet_jobs(names))
    assert counts[1] == counts[0] >= 1
    # the bloom table's create and insert segments both carry a bloom
    assert sum("bloom" in e for e in t.commit_at().files) == 2


def test_cached_search_runs_no_schema_inference_job(spark, tmp_path):
    from datalake_on_prem_system_spark.engine import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"), namespace="ns")
    eng.write_table(
        "parts",
        spark.createDataFrame(
            [(1, "alpha widget"), (2, "beta widget")], "part_id int, name string"
        ),
    )
    eng.search("parts", "widget").collect()  # builds the index
    names, rows = _jobs(spark, lambda: eng.search("parts", "widget").collect())
    assert {r.part_id for r in rows} == {1, 2}
    assert _parquet_jobs(names) == 0, names


# ------------------------------------------------------------ bucket parity


@pytest.mark.parametrize(
    "ddl,values",
    [
        ("int", [0, 1, -1, 2**31 - 1, -(2**31), 17]),
        ("bigint", [0, 5, -5, 2**40, -(2**63), 2**63 - 1]),
        ("smallint", [0, 3, -3, 2**15 - 1, -(2**15)]),
        ("string", ["", "a", "O'Brien", "back\\slash", 'say "hi"', "Zoë 日本", "  "]),
        (
            "decimal(10,2)",
            [Decimal("0.00"), Decimal("1.50"), Decimal("-7.25"), Decimal("99999999.99")],
        ),
        ("date", [dt.date(1970, 1, 1), dt.date(1969, 12, 31), dt.date(2024, 2, 29)]),
    ],
)
def test_bucket_probe_matches_layout_hash(spark, tmp_path, ddl, values):
    """The probe's bucket ids equal ``_bucket_expr`` evaluated by Spark over
    a parquet column holding the same values, NULL included."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create_or_replace(
        spark.createDataFrame([(v,) for v in values + [None]], f"k {ddl}")
    )
    prev = t.commit_at()
    for n in (7, 32):
        layout = {
            r["k"]: r["b"]
            for r in t.read().select("k", _bucket_expr("k", n).alias("b")).collect()
        }
        for v in values + [None]:
            assert t._buckets_for_literals([v], "k", n, prev) == {layout[v]}, (v, n)
        assert t._buckets_for_literals(values, "k", n, prev) == {
            layout[v] for v in values
        }


# ------------------------------------------------------------- value parity

_PARITY_DDL = (
    "ts timestamp, ntz timestamp_ntz, d date, m decimal(10,2), x double, "
    "b boolean, s string, a array<timestamp>"
)
_PARITY_ROWS = [
    (
        dt.datetime(2024, 1, 1, 12, 0),
        dt.datetime(2024, 1, 1, 12, 0),
        dt.date(2024, 1, 1),
        Decimal("12.34"),
        -0.5,
        True,
        "é'\\",
        [dt.datetime(2024, 7, 1, 23, 59, 59, 999999)],
    ),
    # 02:30 on the New York spring-forward day does not exist there
    (
        dt.datetime(2024, 3, 10, 2, 30),
        dt.datetime(2024, 3, 10, 2, 30),
        dt.date(1969, 12, 31),
        Decimal("-0.01"),
        1e300,
        False,
        "",
        [],
    ),
    (None,) * 8,
]


def _value_parity(spark) -> None:
    got = local_frame(spark, _PARITY_ROWS, _PARITY_DDL)
    want = spark.createDataFrame(_PARITY_ROWS, _PARITY_DDL)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    micros = [F.unix_micros("ts"), F.unix_micros(F.get("a", 0))]
    assert got.select(micros).collect() == want.select(micros).collect()
    assert local_frame(spark, [], _PARITY_DDL).collect() == []


def test_local_frame_values_match_list_path(spark):
    _value_parity(spark)


def test_local_frame_values_match_list_path_new_york():
    """Same parity in a process whose local zone is America/New_York, where
    a naive datetime handed to Arrow as-is would shift by the UTC offset."""
    code = (
        "from pyspark.sql import SparkSession\n"
        "import tests.test_local_frame as m\n"
        "spark = SparkSession.builder.master('local[1]')"
        ".config('spark.ui.enabled', 'false').getOrCreate()\n"
        "m._value_parity(spark)\n"
        "print('PARITY-OK')\n"
    )
    env = dict(os.environ, TZ="America/New_York", PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "PARITY-OK" in out.stdout, out.stderr[-3000:]


def test_insert_rows_type_error_commits_nothing(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create_or_replace(spark.createDataFrame([(1, "a")], "id bigint, name string"))
    before = t.latest_version()
    with pytest.raises(TypeError, match="LongType"):
        t.insert_rows([{"id": "2", "name": "b"}])
    assert t.latest_version() == before
    assert [(r.id, r.name) for r in t.read().collect()] == [(1, "a")]


# -------------------------------------------------------------------- guard


def test_no_create_dataframe_under_lakehouse_outside_helper():
    """Every driver-known frame of the lakehouse layer goes through
    ``local_frame``; a ``createDataFrame(`` call anywhere else under
    ``lakehouse/`` would bring the Python-RDD path back."""
    offenders = []
    for fname in sorted(os.listdir(LAKEHOUSE)):
        if not fname.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(LAKEHOUSE, fname)).read())
        allowed = set()
        if fname == "frames.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{fname}:{node.lineno}")
    assert offenders == []
