"""LakeCatalog: namespace → table directory mapping + metadata queries.

The reference's catalog surface (Hive Metastore behind Trino) reduced to
what its API actually uses: SHOW TABLES (api_poc.py:131,280-281), DESCRIBE
(api_poc.py:382-389), CREATE NAMESPACE (cdc_merger_optimized.py:189),
table-name validation (api_poc.py:304 ``isidentifier``).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from .frames import local_frame
from .table import LakeTable


class LakeCatalog:
    def __init__(self, spark: SparkSession, warehouse: str, namespace: str = "db"):
        self.spark = spark
        self.warehouse = warehouse
        self.namespace = namespace

    def _ns_dir(self) -> str:
        return os.path.join(self.warehouse, self.namespace)

    def create_namespace(self) -> None:
        """CREATE NAMESPACE IF NOT EXISTS."""
        os.makedirs(self._ns_dir(), exist_ok=True)

    @staticmethod
    def _validate(name: str) -> str:
        if not name.isidentifier():
            raise ValueError(f"invalid table name: {name!r}")
        return name

    def table(self, name: str) -> LakeTable:
        return LakeTable(
            self.spark, os.path.join(self._ns_dir(), self._validate(name))
        )

    def list_tables(self) -> list[str]:
        """SHOW TABLES."""
        ns = self._ns_dir()
        if not os.path.isdir(ns):
            return []
        return sorted(
            d
            for d in os.listdir(ns)
            if LakeTable(self.spark, os.path.join(ns, d)).exists()
        )

    def describe(self, name: str) -> DataFrame:
        """DESCRIBE t → (col_name, data_type) rows."""
        df = self.table(name).read()
        return local_frame(
            self.spark,
            [(f.name, f.dataType.simpleString()) for f in df.schema],
            "col_name string, data_type string",
        )

    def register_views(self, sql: str) -> None:
        """Bridge the tables ``sql`` names into Spark SQL as temp views (D7,
        cdc_merger_optimized.py:169) so ``spark.sql`` passthrough (S5) sees
        the catalog. A table counts as named when its name is one of the
        statement's identifier tokens, compared case-insensitively; a
        token that only looks like a table name (a column, a string
        literal) registers a harmless extra view. Each named table is
        re-resolved to its latest commit on every call."""
        named = {tok.lower() for tok in re.findall(r"[A-Za-z_]\w*", sql)}
        for name in self.list_tables():
            if name.lower() in named:
                self.table(name).read().createOrReplaceTempView(name)
