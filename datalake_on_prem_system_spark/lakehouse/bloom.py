"""Per-entry bloom-filter file skipping for point predicates.

Manifest min/max stats (``table._footer_summary``) prune range predicates,
but they are useless for EQUALITY on a high-cardinality column the files
are not sorted by: every file's [min, max] spans most of the domain, so
nothing skips.  That is exactly the shape of "find this customer / clerk /
document id" over a 100 TB table.  Delta Lake solves it with per-file bloom
filter indexes; Iceberg with puffin blobs.  This module is the same idea at
the commit-manifest level: each BASE manifest entry optionally carries a
small bloom bitset per configured column, and ``read_where`` drops entries
the bloom proves cannot contain the predicate literal.

Reference parity note: the reference's lakehouse leans on Iceberg metadata
for file skipping (OZONE_ARCHITECTURE.md:76 "partitioning & compaction");
blooms extend the same manifest-pruning surface to point predicates.

Hash-parity contract (the load-bearing invariant): bits are SET by a Spark
job (JVM, distributed) and PROBED on the driver (Python), so both sides
must derive identical positions.  Both hash the column value's canonical
STRING form with SHA-256 and take ``k`` 12-hex-digit slices of the digest
modulo ``m``:

    build (JVM):   sha2(cast(col as string), 256)   -> substring slices
    probe (py):    hashlib.sha256(str-form).hexdigest() -> same slices

Canonical string forms agree only for string / integral / boolean columns
("abc", "123", "true"), so blooms are built ONLY for those types; other
configured columns are silently skipped (conservative: no bloom -> no
pruning).  A probe literal whose Python type does not match the recorded
column kind also never prunes.

Soundness mirrors the min/max rule in ``read_where``: only BASE entries are
ever bloom-pruned.  Delta entries decide OTHER rows' merge-on-read
survival, so they are always read (and this module never builds blooms for
them — wasted bytes on entries that cannot be pruned).

Scale shape: the build is one distributed aggregation over the just-written
segment — per value, ``k`` bit positions; per (leaf dir, column) a
``collect_set`` of positions, which is bounded by ``m`` (default 32768)
regardless of row count, so the driver materializes at most ``m`` ints per
entry-column, never the data.  At 100 TB you would fold bit-setting into
the writer itself; the manifest format and probe side are unchanged by
that swap.
"""

from __future__ import annotations

import base64
import hashlib
import os
from typing import Any

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import StructType

BLOOM_COLS_PROP = "bloom.columns"  # comma-separated column names
BLOOM_M_PROP = "bloom.m"  # bitset size in bits
BLOOM_K_PROP = "bloom.k"  # hash function count
DEFAULT_M = 1 << 15
DEFAULT_K = 4
_SLICE = 12  # hex digits per position slice: 48 bits, safely < 2^63

# column kind codes recorded per bloom so the probe can refuse literals of
# a different type (string '0123' vs int 123 are distinct values)
_KIND_STRING = "s"
_KIND_INT = "i"
_KIND_BOOL = "b"
_ELIGIBLE_SPARK_TYPES = {
    "string": _KIND_STRING,
    "byte": _KIND_INT,
    "short": _KIND_INT,
    "integer": _KIND_INT,
    "long": _KIND_INT,
    "boolean": _KIND_BOOL,
}


def bloom_config(properties: dict[str, str] | None) -> tuple[list[str], int, int] | None:
    """Parse table properties into (columns, m, k); None when unconfigured."""
    props = properties or {}
    raw = (props.get(BLOOM_COLS_PROP) or "").strip()
    if not raw:
        return None
    cols = [c.strip() for c in raw.split(",") if c.strip()]
    if not cols:
        return None
    m = int(props.get(BLOOM_M_PROP, DEFAULT_M))
    k = int(props.get(BLOOM_K_PROP, DEFAULT_K))
    if m < 8 or k < 1 or k * _SLICE > 64:  # digest has 64 hex chars
        raise ValueError(f"invalid bloom config m={m} k={k}")
    return cols, m, k


def _canonical_str(val: Any, kind: str) -> str | None:
    """The probe-side canonical string for ``val`` — None when the literal's
    Python type does not match the column kind the bloom was built over
    (mismatch -> caller must not prune)."""
    if kind == _KIND_BOOL:
        return ("true" if val else "false") if isinstance(val, bool) else None
    if isinstance(val, bool):  # bool is an int subclass; never treat as int
        return None
    if kind == _KIND_INT:
        return str(val) if isinstance(val, int) else None
    if kind == _KIND_STRING:
        return val if isinstance(val, str) else None
    return None


def _positions(s: str, m: int, k: int) -> list[int]:
    d = hashlib.sha256(s.encode("utf-8")).hexdigest()
    return [int(d[i * _SLICE : (i + 1) * _SLICE], 16) % m for i in range(k)]


def bloom_excludes(entry: dict, col: str, val: Any) -> bool:
    """True only when ``entry``'s bloom PROVES no row has ``col = val``.
    Missing bloom, unsupported/mismatched literal type, or a null literal
    keep the entry (``col = NULL`` matches nothing anyway, but that is the
    filter's job, not the pruner's)."""
    info = (entry.get("bloom") or {}).get(col)
    if not info or val is None:
        return False
    s = _canonical_str(val, info.get("t", ""))
    if s is None:
        return False
    bits = base64.b64decode(info["b64"])
    for p in _positions(s, int(info["m"]), int(info["k"])):
        if not (bits[p >> 3] >> (p & 7)) & 1:
            return True
    return False


def _strip_scheme(path: str) -> str:
    return path[5:] if path.startswith("file:") else path


def attach_blooms(
    spark: SparkSession,
    segment_path: str,
    schema: StructType,
    entries: list[dict],
    cols: list[str],
    m: int,
    k: int,
) -> None:
    """Mutate ``entries`` (all under ``segment_path``) adding per-column
    bloom bitsets, built by ONE distributed aggregation over the segment:

        value -> sha2(string form) -> k positions -> collect_set per
        (leaf dir, column)

    ``collect_set`` partial-aggregates map-side and its result is bounded
    by ``m`` per group, so driver transfer is O(entries * cols * m) bits —
    independent of row count.  Columns absent from the files or of
    non-canonical types are skipped. ``schema`` is the schema the segment
    was written with; reading with it runs no schema-inference job.

    Zero-row segments short-circuit: a dynamic-partition write of an empty
    frame (e.g. a DELETE matching every row of its touched buckets, or
    create/compact of an empty partitioned frame) emits NO parquet files,
    so there is nothing to index."""
    if not entries or all(int(e.get("n_rows") or 0) == 0 for e in entries):
        return
    src = spark.read.schema(schema).parquet(segment_path)
    kinds: dict[str, str] = {}
    for f in src.schema.fields:
        if f.name in cols:
            kind = _ELIGIBLE_SPARK_TYPES.get(f.dataType.typeName())
            if kind:
                kinds[f.name] = kind
    if not kinds:
        return
    present = [c for c in cols if c in kinds]
    structs = []
    for ci, c in enumerate(present):
        digest = F.sha2(F.col(c).cast("string"), 256)
        for i in range(k):
            structs.append(
                F.struct(
                    F.lit(ci).alias("c"),
                    F.pmod(
                        F.conv(
                            F.substring(digest, 1 + i * _SLICE, _SLICE), 16, 10
                        ).cast("long"),
                        F.lit(m),
                    ).alias("b"),
                )
            )
    grouped = (
        src.select(
            F.regexp_replace(F.input_file_name(), "/[^/]+$", "").alias("d"),
            F.explode(F.array(*structs)).alias("p"),
        )
        .where(F.col("p.b").isNotNull())
        .groupBy("d", F.col("p.c").alias("c"))
        .agg(F.collect_set("p.b").alias("bits"))
        .collect()
    )
    # leaf dirs roll up to the entry whose path is their prefix (equal for
    # bucket/range leaves; a strict prefix for a single hive-layout entry
    # whose files live in partition subdirs)
    by_entry: dict[int, dict[str, bytearray]] = {}
    roots = [
        (idx, os.path.normpath(_strip_scheme(e["path"]))) for idx, e in enumerate(entries)
    ]
    for row in grouped:
        d = os.path.normpath(_strip_scheme(row["d"]))
        target = None
        for idx, root in roots:
            if d == root or d.startswith(root + os.sep):
                target = idx
                break
        if target is None:
            continue
        col = present[row["c"]]
        bitset = by_entry.setdefault(target, {}).setdefault(
            col, bytearray((m + 7) // 8)
        )
        for p in row["bits"]:
            bitset[p >> 3] |= 1 << (p & 7)
    for idx, per_col in by_entry.items():
        entries[idx]["bloom"] = {
            col: {
                "m": m,
                "k": k,
                "t": kinds[col],
                "b64": base64.b64encode(bytes(bits)).decode("ascii"),
            }
            for col, bits in per_col.items()
        }
