"""LakeEngine: the engine facade — 1:1 with the reference's public surface.

Maps the FastAPI endpoints + CLI/shell verbs (SURVEY §2.15; api_poc.py,
lake_cli.py:122-157, lake_shell.py:19-316) onto the Spark-native substrate:

| reference                              | here                       |
|----------------------------------------|----------------------------|
| GET /tables (api_poc.py:274-284)       | list_tables()              |
| DESCRIBE-driven schema (:382-389)      | describe()                 |
| GET /data/{t}?limit (:286-298)         | read(columns, where, limit)|
| SQL workspace /query (:208-263)        | query(sql)                 |
| POST /upload/{t} direct (:300-320)     | ingest_csv(...)            |
| insert/update/delete (:704-823)        | insert/update/delete       |
| CDC merge job (cdc_merger_optimized)   | merge_cdc(), stream_cdc()  |
| $snapshots history (:426-493)          | history()                  |
| FOR VERSION AS OF + fallback (:374,462)| time_travel()              |
| snapshot diff (:443-487)               | diff()                     |
| search incl. ES fallback (:38-42,65+)  | search()                   |
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .functions.casting import get_cast_val
from .functions.keys import find_id_col
from .lakehouse import LakeCatalog, snapshot_diff
from .operators.search import (
    all_words_predicate,
    build_posting_df,
    build_search_df,
    phrase_boost_score,
    ranked_hits_postings,
    write_posting_index,
)
from .sources.csv_ingest import ingest_csv as _ingest_csv


class LakeEngine:
    def __init__(self, spark: SparkSession, warehouse: str, namespace: str = "trino_db"):
        self.spark = spark
        self.catalog = LakeCatalog(spark, warehouse, namespace)
        self.catalog.create_namespace()
        # (table root, commit version) → (path, schema) of the materialized
        # search index, its postings and its token dictionary, in that
        # order. Guarded by a lock: the HTTP facade serves this engine from
        # a ThreadingHTTPServer, so concurrent searches must not
        # double-build.
        self._search_index_cache: dict[
            tuple[str, int], tuple[tuple[str, StructType], ...]
        ] = {}
        self._search_index_lock = threading.Lock()

    # ------------------------------------------------------------- metadata

    def list_tables(self) -> list[str]:
        return self.catalog.list_tables()

    def describe(self, table: str) -> DataFrame:
        return self.catalog.describe(table)

    def id_col(self, table: str) -> str:
        return find_id_col(self.catalog.table(table).read().columns)

    # ------------------------------------------------------------- reads

    def read(
        self,
        table: str,
        columns: list[str] | None = None,
        filter_col: str | None = None,
        filter_val: str | None = None,
        limit: int | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """P4/P5/O1/O3 read surface: column subset, equality filter (typed
        via get_cast_val), latest-first page."""
        tbl = self.catalog.table(table)
        # resolve the snapshot ONCE and pin it: pk/type derivation and the
        # (possibly bucket-pruned) filtered scan below must see the same
        # commit — a write landing between two independent 'latest'
        # resolutions would otherwise type the filter literal against a
        # different schema than the scan it filters
        commit = tbl.commit_at(version, fallback_to_latest=True)
        df = tbl.read(version=version, fallback_to_latest=True, commit=commit)
        # derive the pk from THIS snapshot's columns: the latest schema may
        # have columns an old version lacks (append-based evolution), and it
        # avoids a second table read
        pk = find_id_col(df.columns)
        if filter_val is not None and filter_col is None:
            raise ValueError("filter_val requires filter_col")
        if filter_col is not None:
            if filter_val is None:
                raise ValueError(f"filter_col={filter_col!r} requires filter_val")
            if filter_col not in df.columns:
                raise ValueError(f"unknown column for {table}: {filter_col!r}")
            dtype = df.schema[filter_col].dataType.simpleString()
            typed = get_cast_val(filter_val, dtype)
            numeric = dtype in (
                "tinyint", "smallint", "int", "bigint", "float", "double",
            ) or dtype.startswith("decimal")
            if numeric and isinstance(typed, str):
                # unparseable value against a numeric column: no row can
                # match — return the empty result the reference serves
                # instead of letting ANSI throw CAST_INVALID_INPUT at
                # execution time deep in a Spark job
                return df.filter(F.lit(False)).select(*(columns or df.columns))
            # bucket-pruned point path: a pk-equality filter resolves only
            # the bucket holding the key (P10 at O(1 bucket)); non-pk
            # filters fall through inside read_where unchanged; `commit`
            # pins the same snapshot typing was derived from
            df = tbl.read_where(
                F.col(filter_col) == F.lit(typed),
                version=version,
                fallback_to_latest=True,
                commit=commit,
            )
        if columns:
            df = df.select(*columns)
        if limit is not None:
            df = df.orderBy(F.desc(pk)).limit(limit)
        return df

    def query(self, sql: str) -> DataFrame:
        """S5 SQL passthrough (trailing-';' strip, api_poc.py:217); only the
        catalog tables the statement names are registered as views."""
        self.catalog.register_views(sql)
        return self.spark.sql(sql.strip().rstrip(";"))

    # ------------------------------------------------------------- writes

    def ingest_csv(self, table: str, path: str, mode: str = "create", pk: str | None = None, precombine: str | None = None, partition_by: list[str] | None = None) -> DataFrame:
        return _ingest_csv(self.catalog.table(table), path, mode=mode, pk=pk, precombine=precombine, partition_by=partition_by)

    def ingest(
        self,
        table: str,
        path: str,
        mode: str = "direct",
        pk: str | None = None,
        row_ddl: str | None = None,
        checkpoint_dir: str | None = None,
        order_cols: list[str] | None = None,
    ) -> None:
        """Upload-mode dispatch (api_poc.py:300-360): 'direct' = batch CSV
        ingest (keyed upsert when a pk is given, else create/append);
        'cdc' = stream a directory of Debezium-envelope JSON files into the
        table via the CDC merge pipeline."""
        if mode == "direct":
            t = self.catalog.table(table)
            if pk is not None and t.exists():
                self.ingest_csv(table, path, mode="upsert", pk=pk)
            else:
                self.ingest_csv(table, path, mode="create" if not t.exists() else "append")
        elif mode == "cdc":
            if not (pk and row_ddl and checkpoint_dir):
                raise ValueError("cdc mode requires pk, row_ddl, checkpoint_dir")
            from .streaming.cdc import run_cdc_file_stream

            run_cdc_file_stream(
                self.spark,
                self.catalog.table(table),
                pk=pk,
                row_ddl=row_ddl,
                src_dir=path,
                checkpoint_dir=checkpoint_dir,
                order_cols=order_cols or [pk],
            )
        else:
            raise ValueError(f"unknown ingest mode: {mode}")

    def write_table(
        self,
        table: str,
        df: DataFrame,
        mode: str = "create",
        properties: dict[str, str] | None = None,
    ) -> None:
        """``properties`` reach the commit log on create — table config
        like ``bloom.columns`` or CHECK ``constraint.<name>`` expressions
        (enforced on this and every later write)."""
        t = self.catalog.table(table)
        if mode == "create":
            t.create_or_replace(df, properties=properties)
        else:
            if properties is not None:
                # appends inherit the table's recorded properties; silently
                # dropping new ones here would let a caller believe a
                # constraint/bloom config took effect when it never did
                raise ValueError(
                    "properties apply on create only; append inherits the "
                    "table's existing properties"
                )
            t.append(df)

    def insert(self, table: str, values: dict[str, str]) -> None:
        """M1 typed insert from string form values (api_poc.py:781-795)."""
        t = self.catalog.table(table)
        schema = t.read().schema
        unknown = set(values) - set(schema.fieldNames())
        if unknown:
            # a typo'd column name must not silently insert an all-NULL row
            raise ValueError(f"unknown columns for {table}: {sorted(unknown)}")
        typed = {
            c: get_cast_val(values.get(c), schema[c].dataType.simpleString())
            for c in schema.fieldNames()
            if c in values
        }
        t.insert_rows([typed])

    def update(self, table: str, pk_val: str, assignments: dict[str, str]) -> None:
        """M2 typed update by pk (api_poc.py:743-756; pk never updated)."""
        t = self.catalog.table(table)
        df = t.read()
        pk = find_id_col(df.columns)
        unknown = set(assignments) - set(df.columns)
        if unknown:
            raise ValueError(f"unknown columns for {table}: {sorted(unknown)}")
        typed_pk = get_cast_val(pk_val, df.schema[pk].dataType.simpleString())
        typed = {
            c: get_cast_val(v, df.schema[c].dataType.simpleString())
            for c, v in assignments.items()
            if c != pk
        }
        t.update_where(F.col(pk) == F.lit(typed_pk), typed)

    def delete(self, table: str, pk_val: str) -> None:
        """M3 keyed delete (api_poc.py:816-823)."""
        t = self.catalog.table(table)
        df = t.read()
        pk = find_id_col(df.columns)
        typed_pk = get_cast_val(pk_val, df.schema[pk].dataType.simpleString())
        t.delete_where(F.col(pk) == F.lit(typed_pk))

    def merge_cdc(self, table: str, source: DataFrame, pk: str, op_col: str = "op", precombine: str | None = None) -> None:
        """K5 batch MERGE apply."""
        self.catalog.table(table).merge(source, pk=pk, op_col=op_col, precombine=precombine)

    # ---------------------------------------------------------------- SCD2

    def scd2_init(self, table: str, df: DataFrame, effective_from: str) -> None:
        """Create ``table`` as an SCD Type 2 dimension: every row becomes
        the current version effective from ``effective_from``."""
        from .lakehouse.scd import scd2_init

        self.catalog.table(table).create_or_replace(
            scd2_init(df, effective_from)
        )

    def scd2_apply(
        self,
        table: str,
        updates: DataFrame,
        key: str | list[str],
        attrs: list[str],
        effective_ts: str,
    ) -> bool:
        """Apply one dimension update batch (close changed current rows,
        open new versions, insert unknown keys) as ONE atomic merge.
        Returns False when the whole batch was a no-op."""
        from .lakehouse.scd import scd2_apply

        return (
            scd2_apply(
                self.catalog.table(table), updates, key, attrs, effective_ts
            )
            is not None
        )

    def scd2_as_of(self, table: str, key: str | list[str], ts: str) -> DataFrame:
        """Point-in-time dimension read: the version effective at ``ts``."""
        from .lakehouse.scd import scd2_as_of

        return scd2_as_of(self.catalog.table(table), key, ts)

    # ------------------------------------------------------------- history

    def history(self, table: str) -> DataFrame:
        return self.catalog.table(table).history()

    def files(self, table: str, version: int | str | None = None) -> DataFrame:
        """$files metadata table: the snapshot's manifest entries."""
        return self.catalog.table(table).files(version=version)

    def partitions(self, table: str, version: int | str | None = None) -> DataFrame:
        """$partitions metadata table: per-partition file/row counts."""
        return self.catalog.table(table).partitions(version=version)

    def time_travel(self, table: str, version: int | str) -> DataFrame:
        """Snapshot read by version number OR tag name (digit strings
        coerce to versions); unknown/expired refs fall back to latest —
        the reference's expired-snapshot UX."""
        return self.catalog.table(table).read(version=version, fallback_to_latest=True)

    def tag(self, table: str, name: str, version: int | None = None) -> int:
        """Name a version (GC root — survives expire_snapshots until the
        tag is deleted). Returns the resolved version."""
        return self.catalog.table(table).tag(name, version=version)

    def diff(self, table: str, v_old: int, v_new: int) -> DataFrame:
        t = self.catalog.table(table)
        pk = find_id_col(t.read().columns)
        return snapshot_diff(t, v_old, v_new, pk)

    def changes(self, table: str, v_from: int, v_to: int) -> DataFrame:
        """Change-data-feed between two versions: per-commit-step row-level
        insert/update/delete records (the incremental-consumer contract —
        `diff` collapses the same interval into one net classification)."""
        from .lakehouse.diff import changes_feed

        t = self.catalog.table(table)
        pk = find_id_col(t.read().columns)
        return changes_feed(t, v_from, v_to, pk)

    def restore(self, table: str, version: int) -> None:
        """RESTORE the table to a historical version as a NEW commit —
        O(metadata) rollback of a botched write, with the bad interval
        still time-travelable."""
        self.catalog.table(table).restore(version)

    def set_partitioning(self, table: str, partition_by: list[str] | None) -> int:
        """Partition evolution: O(metadata) layout change applied by the
        next compaction; returns the new version."""
        return self.catalog.table(table).set_partitioning(partition_by).version

    def create_branch(self, table: str, name: str, version: int | None = None) -> int:
        """Fork a writable branch off ``table`` (O(metadata); shares the
        table's data dir). Returns the fork version."""
        t = self.catalog.table(table)
        return t.create_branch(name, version=version).latest_version()

    def branches(self, table: str) -> dict[str, int]:
        return self.catalog.table(table).branches()

    def read_branch(
        self, table: str, name: str, version: int | str | None = None
    ) -> DataFrame:
        return self.catalog.table(table).branch_table(name).read(version=version)

    def merge_branch(self, table: str, name: str) -> int:
        """Fast-forward merge of a branch back into the main chain; returns
        the merge commit's version. Raises BranchConflictError if the main
        chain advanced past the fork."""
        return self.catalog.table(table).merge_branch(name).version

    def delete_branch(self, table: str, name: str) -> bool:
        return self.catalog.table(table).delete_branch(name)

    def clone(self, table: str, dest_table: str, version: int | None = None) -> None:
        """Zero-copy shallow clone of ``table`` (optionally as of
        ``version``) into ``dest_table`` in the same namespace — O(metadata)
        dev/test forks of any-size tables."""
        self.catalog.table(table).clone_to(
            self.catalog.table(dest_table).root, version=version
        )

    # ------------------------------------------------------------- search

    def _search_index(
        self, table: str
    ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, str]:
        """(index df, postings df, token dictionary df, base df, pk) — the
        2-column (pk, text) search table and its inverted index,
        materialized per (table root, commit version): the K6 sync_to_es
        analog, invalidated by the next commit, so repeat searches scan the
        narrow index instead of recomputing the projection over the full
        base table (api_poc.py:38-42 keeps a live ES index the same way).

        Thread-safe without serializing unrelated tables behind one cold
        build: the cache is consulted under the lock, but the (potentially
        long) index materialization runs OUTSIDE it — two racing requests
        for the same new version at worst both build it (idempotent
        overwrite of the same versioned path) and the second registration
        wins benignly. The version is read FIRST and the base data read
        pinned to it, so a commit landing mid-call can never cache version
        N's data under version N+1's key. Stale versions' index dirs are
        dropped from the cache but left ON DISK — a still-in-flight lazy
        search DataFrame may read them; ``expire_snapshots`` GCs them with
        their commits. The schemas the build wrote are cached beside the
        paths, so a repeat search reads all three without a
        schema-inference job."""
        t = self.catalog.table(table)
        version = t.latest_version()
        df = t.read(version=version) if version is not None else t.read()
        pk = find_id_col(df.columns)
        key = (t.root, version)
        with self._search_index_lock:
            cached = self._search_index_cache.get(key)
        if cached is None:
            base = os.path.join(t.root, "_search_index")
            path = os.path.join(base, f"{version}.parquet")
            search_df = build_search_df(df, pk, [c for c in df.columns if c != pk])
            search_df.write.mode("overwrite").parquet(path)
            idx = self.spark.read.schema(search_df.schema).parquet(path)
            # inverted index beside the text table (same lifecycle + same
            # build recipe as the operator path, write_posting_index): the
            # primary serve path reads postings, not rows — ES-parity
            # (the reference's primary path IS the inverted index,
            # api_poc.py:79-101)
            postings = os.path.join(base, f"{version}_postings.parquet")
            tokens = os.path.join(base, f"{version}_tokens.parquet")
            write_posting_index(self.spark, idx, pk, postings, tokens)
            posting_schema = build_posting_df(idx, pk).schema
            cached = (
                (path, search_df.schema),
                (postings, posting_schema),
                (tokens, StructType([posting_schema["token"]])),
            )
            with self._search_index_lock:
                for k in [k for k in self._search_index_cache if k[0] == t.root]:
                    self._search_index_cache.pop(k)
                self._search_index_cache[key] = cached
        idx, postings, tokens = (
            self.spark.read.schema(schema).parquet(p) for p, schema in cached
        )
        return idx, postings, tokens, df, pk

    def search(self, table: str, query: str, top_k: int = 50) -> DataFrame:
        """E1–E5: numeric fast path → ranked all-words/phrase search over
        the MATERIALIZED inverted index (token postings; all-words =
        posting intersection, phrase verified on candidates only) → rejoin
        to authoritative rows (api_poc.py:396-415). A missing or broken
        posting index raises. A query with no tokens has no postings to
        intersect and is ranked by the flat index scan."""
        if query.isdigit():  # P8 numeric-id fast path
            df = self.catalog.table(table).read()
            pk = find_id_col(df.columns)
            return df.filter(F.col(pk).cast("string") == query)
        # one _search_index call pins the index, postings and base frames
        # to the same version — a commit landing mid-request must not mix
        # version-N idx/base frames with version-N+1 postings
        idx, postings, dict_df, df, pk = self._search_index(table)
        scored = ranked_hits_postings(idx, postings, dict_df, query, pk, require_all=True)
        if scored is None:
            scored = idx.filter(all_words_predicate(F.col("text"), query)).select(
                pk, phrase_boost_score(F.col("text"), query).alias("score")
            )
        hits = scored.orderBy(F.desc("score"), F.asc(pk)).limit(top_k)
        return df.join(F.broadcast(hits.select(pk)), pk, "left_semi")
