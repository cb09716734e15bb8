"""Engine-facade operator queries: the reference's API surface exercised
end-to-end through ``LakeEngine`` (SURVEY §2.15 / api_poc.py endpoints)."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._cache import index_tempdir
from .common import t


def _engine_with_parts(spark: SparkSession, sf_dir: str):
    # deferred import: engine pulls operators.search, so a module-level
    # import here would make the operators package import circular
    from ..engine import LakeEngine

    eng = LakeEngine(spark, index_tempdir("eng_"))
    eng.write_table(
        "parts",
        t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_retailprice"),
    )
    return eng


def eng_crud_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard CRUD flow with string form values (the API's contract):
    insert → update-by-pk → delete-by-pk → read. get_cast_val turns the
    strings into the column types (api_poc.py:704-726)."""
    eng = _engine_with_parts(spark, sf_dir)
    eng.insert(
        "parts",
        {"p_partkey": "1000001", "p_name": "form part", "p_brand": "Brand#77", "p_retailprice": "12.5"},
    )
    eng.update("parts", "7", {"p_retailprice": "555.25", "p_name": "renamed part"})
    eng.delete("parts", "13")
    return eng.read("parts").filter(F.col("p_partkey") < 20).unionByName(
        eng.read("parts").filter(F.col("p_partkey") == 1_000_001)
    )


def eng_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: arbitrary SQL over engine tables through the workspace path
    (temp-view bridge + trailing-';' strip, api_poc.py:214-226)."""
    eng = _engine_with_parts(spark, sf_dir)
    return eng.query(
        "SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS total "
        "FROM parts WHERE p_retailprice > 50 GROUP BY p_brand;"
    )


def eng_search_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5/P8: numeric search term takes the pk fast path; word search takes
    the ranked index path — both through the facade."""
    eng = _engine_with_parts(spark, sf_dir)
    numeric = eng.search("parts", "42").select("p_partkey", "p_name")
    worded = eng.search("parts", "Brand#13", top_k=10).select("p_partkey", "p_name")
    return numeric.unionByName(worded)


def api_http_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HTTP layer end-to-end (api_poc.py endpoints over live sockets):
    CSV upload → POST insert/update/delete (string form values) → GET
    /data page — every hop a real HTTP request against the stdlib server,
    every mutation a LakeTable commit. The returned DataFrame re-reads the
    final table state through the engine (the server holds the same
    catalog)."""
    import json
    import urllib.request

    from ..api import LakeApiServer
    from ..engine import LakeEngine

    eng = LakeEngine(spark, index_tempdir("api_eng_"))
    srv = LakeApiServer(eng).start()
    base = f"http://127.0.0.1:{srv.port}"
    try:
        rows = (
            t(spark, sf_dir, "region")
            .select("r_regionkey", "r_name")
            .orderBy("r_regionkey")
            .collect()
        )
        csv = "r_regionkey,r_name\n" + "\n".join(f"{r.r_regionkey},{r.r_name}" for r in rows)
        urllib.request.urlopen(
            urllib.request.Request(f"{base}/upload/regions", data=csv.encode(), method="POST")
        ).read()
        for path, payload in (
            ("/insert/regions", {"r_regionkey": "99", "r_name": "ATLANTIS"}),
            ("/update/regions/1", {"r_name": "AMERICA-2"}),
            ("/delete/regions/3", {}),
        ):
            urllib.request.urlopen(
                urllib.request.Request(
                    base + path, data=json.dumps(payload).encode(), method="POST"
                )
            ).read()
        n = json.loads(
            urllib.request.urlopen(f"{base}/data/regions?limit=50").read()
        )["rows"]
        assert len(n) == 5  # 5 - 1 deleted + 1 inserted
    finally:
        srv.stop()
    return eng.read("regions").select(
        F.col("r_regionkey").cast("bigint").alias("r_regionkey"), "r_name"
    )


QUERIES = {
    "eng_crud_roundtrip": eng_crud_roundtrip,
    "eng_sql_passthrough": eng_sql_passthrough,
    "eng_search_fallback": eng_search_fallback,
    "api_http_roundtrip": api_http_roundtrip,
}

ORACLE = {
    "api_http_roundtrip": """
        SELECT r_regionkey, r_name FROM region
        WHERE r_regionkey NOT IN (1, 3)
        UNION ALL SELECT 1, 'AMERICA-2'
        UNION ALL SELECT 99, 'ATLANTIS'
    """,
    "eng_crud_roundtrip": """
        WITH base AS (
            SELECT p_partkey, p_name, p_brand, p_retailprice FROM part
        ), upd AS (
            SELECT p_partkey,
                   CASE WHEN p_partkey = 7 THEN 'renamed part' ELSE p_name END AS p_name,
                   p_brand,
                   CASE WHEN p_partkey = 7 THEN 555.25 ELSE p_retailprice END AS p_retailprice
            FROM base WHERE p_partkey != 13
        )
        SELECT * FROM upd WHERE p_partkey < 20
        UNION ALL
        SELECT CAST(1000001 AS BIGINT), 'form part', 'Brand#77', CAST(12.5 AS DOUBLE)
    """,
    "eng_sql_passthrough": """
        SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS total
        FROM part WHERE p_retailprice > 50 GROUP BY p_brand
    """,
    "eng_search_fallback": """
        SELECT p_partkey, p_name FROM part WHERE CAST(p_partkey AS VARCHAR) = '42'
        UNION ALL
        SELECT p_partkey, p_name FROM (
            SELECT p_partkey, p_name,
                   10 * (CASE WHEN st LIKE '%brand#13%' THEN 1 ELSE 0 END)
                   + (CASE WHEN st LIKE '%brand#13%' THEN 1 ELSE 0 END) AS score
            FROM (SELECT p_partkey, p_name,
                         lower(concat_ws(' ', p_name, p_brand,
                                         CAST(p_retailprice AS VARCHAR))) AS st
                  FROM part)
            WHERE st LIKE '%brand#13%'
            ORDER BY score DESC, p_partkey ASC LIMIT 10)
    """,
}
