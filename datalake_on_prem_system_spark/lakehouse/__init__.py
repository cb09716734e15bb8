"""Versioned lakehouse tables: parquet data + JSON commit log.

A lightweight stand-in for the reference's Iceberg/Hudi tables (no external
jars needed), providing the same user-visible semantics:

- ACID-ish snapshot commits with parent lineage   (Iceberg ``$snapshots``)
- time travel by version, expired-version fallback (``FOR VERSION AS OF``)
- MERGE upsert/delete with CDC op semantics       (MERGE INTO branches)
- typed DML (insert / update / delete)
- snapshot diff (NEW / MODIFIED / DELETED + per-cell old→new)
"""

from .catalog import LakeCatalog
from .diff import snapshot_diff
from .table import LakeTable

__all__ = [
    "LakeCatalog",
    "LakeTable",
    "snapshot_diff",
]
