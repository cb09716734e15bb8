"""LakeTable: a versioned table = parquet data files + a JSON commit log.

Re-expresses the reference's Iceberg table semantics (snapshot lineage
``api_poc.py:426-428``, time travel ``api_poc.py:374-376``, expired-snapshot
fallback ``api_poc.py:462-468``, CDC MERGE branches
``cdc_merger_optimized.py:171-183``, keyed delete ``delete_hudi.py:45-91``,
Hudi precombine upsert ``ingest_csv_hudi.py:78-99``) on plain Spark.

Layout:

    <root>/data/<version>-<uuid>.parquet/           (segment: plain, hive-
                                                     partitioned, or bucketed
                                                     into __bucket=<i> dirs)
    <root>/_commits/<version>.json                  (version, parent, op,
                                                     FILE LIST, row count,
                                                     schema, committed_at)

File-granular copy-on-write (the Iceberg model, not full-state COW): a
commit references a LIST of data directories, most of them carried forward
verbatim from the parent commit.

- ``append`` / ``insert_rows`` write ONLY the new batch — O(batch), never
  O(table).
- ``merge`` / ``update_where`` / ``delete_where`` on a bucketed table
  rewrite only the pk-hash buckets that contain touched keys; every other
  bucket's files are carried forward untouched (byte-identical). The first
  ``merge`` on a table lays it out into ``pmod(xxhash64(pk), n)`` bucket
  directories; after that a change batch touching k of n buckets rewrites
  k/n of the data. At 100 TB with n sized so a bucket ≈ a few GB, a small
  CDC batch rewrites gigabytes, not the table.
- Schema evolution never rewrites old files: the commit stores the UNION
  schema and parquet files missing a column read as NULL.

MERGE itself is pure distributed algebra: one shuffle of each side on the
pk; the anti-join's build side broadcasts when the change-set is small
(AQE decides), which is the common CDC case. The touched-bucket set is the
only driver-side materialization — bounded by n buckets, not data size.

Commit publication is an atomic ``os.link`` of the JSON file that refuses
to clobber, so a reader never sees a half-written commit and a racing
writer loses cleanly (its new segments are removed).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from functools import reduce
from operator import or_
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .bloom import attach_blooms, bloom_config, bloom_excludes
from .frames import local_frame

BUCKET_COL = "__bucket"
RANGE_COL = "__range"  # compact_clustered leaf-dir column (never surfaces)
DEFAULT_N_BUCKETS = 32
# reserved metadata column names (bucket layout + merge-on-read resolution)
_RESERVED_COLS = {"__bucket", "__range", "__op", "__seq", "__rn", "__is_delta"}
# fold merge-on-read deltas back into base files once this many delta
# commits have accumulated (Hudi compaction-on-N-delta-commits policy)
DEFAULT_DELTA_COMPACT_THRESHOLD = 8


# Identifier of the bucket-hash function used for the on-disk layout,
# recorded in every bucket_spec. A probe-side bucket computation (merge
# touched-set, point-DML pruning) is only valid when the stored layout was
# written with the SAME function — a spec carrying a different (or absent)
# id is treated as not-bucketed-on-this-pk and re-laid-out by the next
# keyed write instead of being silently mis-pruned.
BUCKET_HASH_ID = "murmur3-pmod-v1"

# In-process listeners fired when a table root is wholesale REPLACED
# (create_or_replace). Higher layers that memoize per-root state keyed on
# durable table properties (the CDC applied-batch watermark memo) register
# here so a re-created table at the same root cannot be served a stale
# memo — the durable property is gone, the memo must go with it.
_REPLACE_LISTENERS: list[Callable[[str], None]] = []


def on_table_replace(listener: Callable[[str], None]) -> None:
    """Register a callback invoked with ``table.root`` on create_or_replace."""
    if listener not in _REPLACE_LISTENERS:
        _REPLACE_LISTENERS.append(listener)


def _bucket_expr(pk: str, n: int):
    # pmod(hash(pk), n) is EXACTLY Spark's HashPartitioning partition-id
    # formula (Murmur3, seed 42), so `df.repartition(n, F.col(pk))` places
    # every row of bucket i in shuffle partition i — each write task then
    # produces exactly one bucket dir (one open parquet writer, no
    # multi-value dynamic-partition sort) and bucket-granular layouts stay
    # aligned with any later repartition on the pk. F.hash never returns
    # NULL (a NULL pk hashes to the seed), matching the partitioner on
    # NULLs too — no __HIVE_DEFAULT_PARTITION__ dirs.
    return F.pmod(F.hash(F.col(pk)), F.lit(n)).cast("int")


def _normalize_pks(pk) -> list[str]:
    """Accept ``pk`` as a single column name or a sequence (composite key).
    The FIRST column is the 'leading' key — the bucket-layout and
    point-prune key; the full list drives merge/delete identity."""
    pks = [pk] if isinstance(pk, str) else list(pk)
    if not pks or any(not isinstance(p, str) or not p for p in pks):
        raise ValueError(f"pk must name at least one column, got {pk!r}")
    if len(set(pks)) != len(pks):
        raise ValueError(f"duplicate columns in composite pk: {pks}")
    return pks


def _spec_pks(spec: dict) -> list[str]:
    """Full key-column list of a bucket spec (commits predating composite
    keys carry only the single 'pk')."""
    return list(spec.get("pks") or [spec["pk"]])


def _bucket_spec(pk: str, n: int, pks: list[str] | None = None) -> dict:
    """Build a bucket_spec stamped with the current layout hash id. For a
    composite key ``pks`` records the FULL column list; layout/pruning stay
    on the leading ``pk`` column (a point read on the leading key prunes
    buckets; the trailing columns only narrow row identity)."""
    spec = {"pk": pk, "n": n, "hash": BUCKET_HASH_ID}
    if pks is not None and list(pks) != [pk]:
        spec["pks"] = list(pks)
    return spec


def _spec_current(spec: dict | None) -> bool:
    """True iff ``spec`` was written by the current bucket-hash function, so
    probe-side `_bucket_expr` computations match the on-disk layout."""
    return spec is not None and spec.get("hash") == BUCKET_HASH_ID


def _pk_literal_values(condition, pk: str) -> list | None:
    """Extract literal pk values from a point predicate, or None.

    Recognizes ``col(pk) == lit`` (either operand order) and
    ``col(pk).isin(lits...)`` by walking the Column's ColumnNode tree
    (Spark 4 `org.apache.spark.sql.internal` nodes via py4j). Any other
    predicate shape — or any introspection surprise — returns None and the
    caller keeps the scan-based path, so this is a pure fast-path: it can
    only ever skip work, never change which rows match. The column name
    must match the pk EXACTLY: under the default case-insensitive
    resolution a differently-cased reference still resolves to the pk, but
    under ``spark.sql.caseSensitive=true`` it could be a DIFFERENT column —
    exact-match-only keeps the fast path correct in both modes (the cased
    variant merely falls back to the scan).

    NULL literals are dropped: ``pk = NULL`` / ``NULL IN (...)`` elements
    never match a row under SQL three-valued logic.
    """
    try:
        node = condition._jc.node()
        if node.getClass().getSimpleName() != "UnresolvedFunction":
            return None

        def attr_name(n):
            if n.getClass().getSimpleName() != "UnresolvedAttribute":
                return None
            parts = n.nameParts()
            return parts.apply(0) if parts.size() == 1 else None

        def lit_value(n):
            # (found, value); only plain literals qualify
            if n.getClass().getSimpleName() != "Literal":
                return False, None
            return True, n.value()

        fn = node.functionName()
        args = node.arguments()
        argl = [args.apply(i) for i in range(args.size())]
        if fn == "=" and len(argl) == 2:
            for a, b in ((argl[0], argl[1]), (argl[1], argl[0])):
                if attr_name(a) == pk:
                    ok, v = lit_value(b)
                    if ok:
                        return [v] if v is not None else []
            return None
        if fn == "in" and len(argl) >= 2:
            if attr_name(argl[0]) != pk:
                return None
            vals = []
            for a in argl[1:]:
                ok, v = lit_value(a)
                if not ok:
                    return None
                if v is not None:
                    vals.append(v)
            return vals
        return None
    except Exception:
        return None


_MAX_DISJUNCTS = 16


def _skip_disjuncts(condition) -> list[list[tuple[str, str, Any]]]:
    """Predicate structure for FILE SKIPPING, as a bounded DNF: a list of
    DISJUNCTS, each a list of (column, op, literal) conjuncts. An entry
    may match the filter iff SOME disjunct may match it, so a caller
    prunes an entry only when EVERY disjunct proves empty.

    Recognized leaves: simple comparisons (``col <op> literal`` /
    ``literal <op> col``, op ∈ {=, <, <=, >, >=}) and all-literal
    IN-lists (op "in", literal tuple; NULL elements drop — they never
    match a row). Combinators: AND is the disjunct cross-product, OR the
    disjunct union — so ``tenant = 'a' OR tenant = 'b'`` (the
    multi-tenant point-lookup shape) prunes every segment containing
    neither, which pure-conjunction extraction could never do.

    Conservatism: any unrecognized subtree becomes the empty disjunct
    ``[]``, which may match ANYTHING — under AND the product keeps the
    other side's conjuncts (sound: proving A empty proves A∧B empty);
    under OR it poisons pruning entirely (sound: B unknown means the OR
    may match anywhere). DNF blow-up past ``_MAX_DISJUNCTS`` and
    introspection surprises degrade to ``[[]]`` (no pruning)."""
    flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}

    def attr_name(n):
        if n.getClass().getSimpleName() != "UnresolvedAttribute":
            return None
        parts = n.nameParts()
        return parts.apply(0) if parts.size() == 1 else None

    def leaf(fn, argl) -> tuple[str, str, Any] | None:
        if fn in flip and len(argl) == 2:
            for a, b, op in ((argl[0], argl[1], fn), (argl[1], argl[0], flip[fn])):
                name = attr_name(a)
                if name is not None and b.getClass().getSimpleName() == "Literal":
                    v = b.value()
                    if v is not None:
                        return (name, op, v)
            return None
        if fn == "in" and len(argl) >= 2:
            name = attr_name(argl[0])
            if name is None:
                return None
            vals = []
            for a in argl[1:]:
                if a.getClass().getSimpleName() != "Literal":
                    return None
                v = a.value()
                if v is not None:
                    vals.append(v)
            return (name, "in", tuple(vals))
        return None

    def walk(node) -> list[list[tuple[str, str, Any]]]:
        if node.getClass().getSimpleName() != "UnresolvedFunction":
            return [[]]
        fn = node.functionName()
        args = node.arguments()
        argl = [args.apply(i) for i in range(args.size())]
        if fn == "and" and len(argl) == 2:
            left, right = walk(argl[0]), walk(argl[1])
            if len(left) * len(right) > _MAX_DISJUNCTS:
                return [[]]
            return [dl + dr for dl in left for dr in right]
        if fn == "or" and len(argl) == 2:
            out = walk(argl[0]) + walk(argl[1])
            return out if len(out) <= _MAX_DISJUNCTS else [[]]
        p = leaf(fn, argl)
        return [[p]] if p is not None else [[]]

    try:
        return walk(condition._jc.node())
    except Exception:
        return [[]]


def _prune_by_disjuncts(entries: list[dict], condition) -> list[dict]:
    """Drop BASE entries every disjunct proves empty; delta entries are
    never value-pruned (MOR soundness). No-op when any disjunct is
    unrecognized (may match anything)."""
    disjuncts = _skip_disjuncts(condition)
    if not disjuncts or not all(disjuncts):
        return entries
    return [
        e
        for e in entries
        if e.get("delta") is not None
        or e.get("dv")  # DV tombstones decide OTHER rows' survival
        or any(_entry_may_match(e, d) for d in disjuncts)
    ]


def _point_may_match(entry: dict, stats: dict, col: str, val: Any) -> bool:
    """Can any row of ``entry`` have ``col = val``? Consults the bloom
    bitset first (exact membership up to FPP), then the [min, max] range."""
    if bloom_excludes(entry, col, val):
        return False
    rng = stats.get(col)
    if rng:
        lo, hi = rng
        try:
            if val < lo or val > hi:
                return False
        except TypeError:  # incomparable literal/stat types
            pass
    return True


def _entry_may_match(entry: dict, preds: list[tuple[str, str, Any]]) -> bool:
    """False only when the entry's recorded [min, max] stats or bloom
    bitset PROVES a conjunct can't match any of its rows — missing
    stats/blooms, unknown columns, or incomparable types keep the entry
    (conservative). Callers apply this to BASE entries only; delta entries
    decide other rows' merge-on-read survival and are never pruned."""
    stats = entry.get("stats") or {}
    for col, op, val in preds:
        if op == "=":
            if not _point_may_match(entry, stats, col, val):
                return False
            continue
        if op == "in":
            # an IN conjunct matches only if SOME element can; the empty
            # list (all elements were NULL) matches nothing
            if not any(_point_may_match(entry, stats, col, v) for v in val):
                return False
            continue
        rng = stats.get(col)
        if not rng:
            continue
        lo, hi = rng
        try:
            if (
                (op == "<" and lo >= val)
                or (op == "<=" and lo > val)
                or (op == ">" and hi <= val)
                or (op == ">=" and hi < val)
            ):
                return False
        except TypeError:  # incomparable literal/stat types (e.g. tz objects)
            continue
    return True


@dataclass
class Commit:
    version: int
    parent: int | None
    operation: str
    # [{"path": <dir>, "bucket": int|None, "n_rows": int, "seq": int,
    #   "delta": int|None}] — the table state at this version is the union of
    # these directories' parquet files. ``seq`` is the version of the commit
    # that WROTE the entry (carried entries keep theirs; absent = 0 for
    # pre-upgrade commits) and orders merge-on-read resolution: a delta
    # upserts/deletes only rows written before it, never after.
    files: list[dict]
    n_rows: int
    schema_json: str
    committed_at: float
    # pk-hash bucket layout of the bucketed entries: {"pk": str, "n": int}
    bucket_spec: dict | None = None
    # D4 parity: CREATE TABLE ... PARTITIONED BY ... TBLPROPERTIES(...)
    # (cdc_merger_optimized.py:191-203); carried forward commit-to-commit
    partition_by: list[str] | None = None
    properties: dict[str, str] | None = None


CONSTRAINT_PREFIX = "constraint."


class CheckViolation(ValueError):
    """A write batch violated a ``constraint.<name>`` table property."""


class ExpiredVersionError(LookupError):
    pass


class BranchConflictError(RuntimeError):
    """The target chain advanced since the branch forked: a fast-forward
    merge is impossible (re-create the branch from the new head, replay the
    work, merge again — the same contract as a git ff-only merge)."""


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first (optimistic concurrency:
    the Iceberg commit-conflict model — caller re-reads and retries)."""


class LakeTable:
    """One versioned table rooted at ``root`` (a local or object-store path)."""

    def __init__(self, spark: SparkSession, root: str, branch: str | None = None):
        self.spark = spark
        self.root = root
        # a BRANCH is a parallel commit chain in the same root sharing the
        # same data/ dir (Iceberg branch refs): branch=None is the main
        # chain; everything below (reads, DML, time travel, history) works
        # unchanged against whichever chain this handle points at.
        self.branch = branch
        if branch is None:
            self._commits_dir = os.path.join(root, "_commits")
        else:
            self._commits_dir = os.path.join(root, "_branches", branch)
        self._data_dir = os.path.join(root, "data")
        self._refs_dir = os.path.join(root, "_refs")

    # ---------------------------------------------------------------- commits

    def _commit_files(self) -> list[str]:
        if not os.path.isdir(self._commits_dir):
            return []
        return sorted(
            (f for f in os.listdir(self._commits_dir) if f.endswith(".json")),
            key=lambda f: int(f.split(".")[0]),
        )

    def versions(self) -> list[int]:
        return [int(f.split(".")[0]) for f in self._commit_files()]

    def _read_commit(self, version: int) -> Commit:
        path = os.path.join(self._commits_dir, f"{version}.json")
        if not os.path.exists(path):
            raise ExpiredVersionError(f"version {version} not found at {self.root}")
        with open(path) as fh:
            return Commit(**json.load(fh))

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def exists(self) -> bool:
        return self.latest_version() is not None

    # ------------------------------------------------------------------ refs

    _TAG_RE = r"[A-Za-z][A-Za-z0-9._-]*"

    def _validate_tag_name(self, name: str) -> None:
        """Shared by every ref operation: the ``_refs/<name>.json`` join
        must never escape ``_refs/`` (a traversal like ``../_commits/2``
        would reach commit files)."""
        import re

        if not re.fullmatch(self._TAG_RE, name):
            raise ValueError(f"invalid tag name: {name!r} (must match {self._TAG_RE})")

    def tag(self, name: str, version: int | None = None) -> int:
        """Name a version (Iceberg TAG analog): ``read(version="name")``
        resolves through it, and ``expire_snapshots`` treats tagged
        versions as GC ROOTS — a tagged snapshot (and its data) survives
        retention, exactly Iceberg's ref-retention rule. Names must start
        with a letter (so a version NUMBER can never be shadowed);
        re-tagging an existing name moves it (publish is atomic via
        rename). Returns the resolved version."""
        self._validate_tag_name(name)
        v = self.latest_version() if version is None else version
        self._read_commit(v)  # must exist (raises ExpiredVersionError)
        os.makedirs(self._refs_dir, exist_ok=True)
        tmp = os.path.join(self._refs_dir, f".{name}-{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as fh:
            json.dump({"version": v}, fh)
        os.replace(tmp, os.path.join(self._refs_dir, f"{name}.json"))
        return v

    def tags(self) -> dict[str, int]:
        if not os.path.isdir(self._refs_dir):
            return {}
        out: dict[str, int] = {}
        for f in sorted(os.listdir(self._refs_dir)):
            if f.endswith(".json") and not f.startswith("."):
                with open(os.path.join(self._refs_dir, f)) as fh:
                    out[f[: -len(".json")]] = int(json.load(fh)["version"])
        return out

    def delete_tag(self, name: str) -> bool:
        """Remove a tag; the version it pointed at becomes expirable again.
        Returns whether the tag existed."""
        self._validate_tag_name(name)
        path = os.path.join(self._refs_dir, f"{name}.json")
        try:
            os.remove(path)
            return True
        except FileNotFoundError:
            return False

    def resolve_ref(self, ref: int | str) -> int:
        """A version number passes through; a string resolves as a tag
        (digit strings coerce to version numbers so facade layers can pass
        either form)."""
        if isinstance(ref, int):
            return ref
        # isdecimal, not isdigit: isdigit accepts Unicode digits ('²','①')
        # that int() rejects, which would escape the ExpiredVersionError
        # contract and bypass fallback_to_latest
        if ref.isdecimal():
            return int(ref)
        refs = self.tags()
        if ref not in refs:
            raise ExpiredVersionError(f"unknown tag {ref!r} at {self.root}")
        return refs[ref]

    # -------------------------------------------------------------- branches

    @property
    def _branches_dir(self) -> str:
        return os.path.join(self.root, "_branches")

    def _branch_dir(self, name: str) -> str:
        # same traversal guard as tags: the name must never escape
        # _branches/ (e.g. "../_commits")
        self._validate_tag_name(name)
        return os.path.join(self._branches_dir, name)

    def create_branch(self, name: str, version: int | None = None) -> "LakeTable":
        """Create a writable BRANCH (Iceberg branch-ref analog): a parallel
        commit chain under ``_branches/<name>`` that SHARES this root's
        ``data/`` dir — O(metadata) to create regardless of table size. The
        bootstrap commit re-references the fork version's file list at the
        fork's own version number, so the branch's version counter (and the
        merge-on-read ``seq`` values its writes stamp) CONTINUE from the
        fork point — the same counter-continuation rule as ``clone_to``.
        Unlike a clone, branch writes land in the shared ``data/`` dir, so
        a later merge hands segments back with no ownership transfer, and
        both GC passes (``expire_snapshots``, ``vacuum_orphans``) treat
        every chain's references as live."""
        v = self.latest_version() if version is None else self.resolve_ref(version)
        if v is None:
            raise ValueError(f"cannot branch empty table at {self.root}")
        src = self._read_commit(v)
        bdir = self._branch_dir(name)
        bt = LakeTable(self.spark, self.root, branch=name)
        if bt.exists():
            raise ValueError(f"branch already exists: {name!r} at {self.root}")
        os.makedirs(bdir, exist_ok=True)
        # fork metadata survives branch-chain expiry (the bootstrap commit
        # itself may be expired away); merge_branch reads it for the
        # fast-forward precondition — INCLUDING which chain the fork came
        # from ("from": branch name, None = main): fast-forward is only
        # meaningful into the chain that was forked, a matching version
        # NUMBER on a different chain proves nothing. No .json suffix:
        # _commit_files must never pick it up as a version.
        with open(os.path.join(bdir, "FORK"), "w") as fh:
            json.dump(
                {"fork_version": v, "from": self.branch, "created_at": time.time()},
                fh,
            )
        commit = self._recommit(src, version=v, parent=None, operation=f"branch:{name}@{v}")
        # new_paths=[]: the bootstrap owns no segments — a lost race must
        # not delete shared data
        bt._publish_commit(commit, [])
        return bt

    def branches(self) -> dict[str, int]:
        """name -> head version for every live branch of this root."""
        if not os.path.isdir(self._branches_dir):
            return {}
        out: dict[str, int] = {}
        for name in sorted(os.listdir(self._branches_dir)):
            bt = LakeTable(self.spark, self.root, branch=name)
            head = bt.latest_version()
            if head is not None:
                out[name] = head
        return out

    def branch_table(self, name: str) -> "LakeTable":
        """Handle on an existing branch's chain (reads, DML, time travel
        all work against the branch)."""
        self._validate_tag_name(name)
        bt = LakeTable(self.spark, self.root, branch=name)
        if not bt.exists():
            raise ExpiredVersionError(f"unknown branch {name!r} at {self.root}")
        return bt

    def fork_version(self, name: str) -> int:
        return self._fork_meta(name)[0]

    def _fork_meta(self, name: str) -> tuple[int, str | None]:
        """(fork version, source chain) — source chain None means main. A
        FORK file without the "from" key predates chain-identity tracking:
        treating it as main would re-open the silent cross-chain merge this
        metadata exists to prevent, so merging such a branch is refused
        outright (re-fork to migrate)."""
        bdir = self._branch_dir(name)
        with open(os.path.join(bdir, "FORK")) as fh:
            meta = json.load(fh)
        if "from" not in meta:
            raise BranchConflictError(
                f"branch {name!r} has pre-chain-identity fork metadata; "
                f"re-create the branch to merge it"
            )
        return int(meta["fork_version"]), meta["from"]

    def delete_branch(self, name: str) -> bool:
        """Drop a branch's METADATA (commit chain + fork marker). Shared
        segments are untouched — ones referenced by no surviving chain
        become orphans that ``vacuum_orphans`` collects after its age
        guard. Returns whether the branch existed."""
        import shutil

        bdir = self._branch_dir(name)
        if not os.path.isdir(bdir):
            return False
        shutil.rmtree(bdir)
        return True

    def merge_branch(self, name: str) -> Commit:
        """FAST-FORWARD merge of branch ``name`` into THIS chain: publishes
        one commit whose file list / schema / layout are the branch head's.
        O(metadata) — segments already live in the shared ``data/`` dir.
        Precondition (checked): this chain has not advanced past the fork
        version, else ``BranchConflictError`` (three-way row merges are a
        MERGE INTO the user runs explicitly; a silent auto-merge would
        invent row-level semantics the chain never saw).

        The merge commit's version is ``branch_head + 1`` — NOT this
        chain's ``latest + 1`` — so every merge-on-read ``seq`` carried
        from branch commits stays below the next commit's stamp (the same
        counter-continuation rule as ``clone_to``; version gaps are already
        legal — expiry leaves them)."""
        bt = self.branch_table(name)
        fork_v, fork_from = self._fork_meta(name)
        # chain identity: a branch fast-forwards only into the chain it was
        # forked FROM — a matching version NUMBER on some other chain is a
        # coincidence, and accepting it would silently drop that chain's
        # own commits (they never flowed into the branch)
        if fork_from != self.branch:
            raise BranchConflictError(
                f"branch {name!r} was forked from "
                f"{fork_from or 'main'!r}, not {self.branch or 'main'!r}"
            )
        latest = self.latest_version()
        if latest != fork_v:
            raise BranchConflictError(
                f"cannot fast-forward {name!r}: chain advanced "
                f"{fork_v} -> {latest} since the fork"
            )
        head = bt.latest_version()
        src = bt._read_commit(head)
        # GAP EXCLUSION: the merge commit lands at head+1, leaving versions
        # (latest, head] as a gap a concurrent writer could publish into
        # with NO filename collision — its committed rows would silently
        # vanish from the merged head. Fill the gap FIRST with state-
        # preserving lock commits (each a rename-atomic publish of main's
        # pre-merge state): a racer either wins a version — our lock's
        # rename collides, we withdraw and raise — or loses its own rename
        # to a lock and raises itself. Either way no commit can land
        # unseen. After the merge publishes, locks are removed exactly like
        # expired versions (readers treat missing versions as expired).
        main_now = self._read_commit(latest)

        def _drop(versions: list[int]) -> None:
            for v in versions:
                try:
                    os.remove(os.path.join(self._commits_dir, f"{v}.json"))
                except FileNotFoundError:
                    pass

        locks: list[int] = []
        try:
            for v in range(latest + 1, head + 1):
                self._publish_commit(
                    self._recommit(
                        main_now, version=v, parent=latest,
                        operation=f"merge_lock:{name}",
                    ),
                    [],
                )
                locks.append(v)
            commit = self._recommit(
                src,
                version=max(latest, head) + 1,
                parent=latest,
                operation=f"merge_branch:{name}@{head}",
            )
            self._publish_commit(commit, [])
        except ConcurrentCommitError:
            _drop(locks)
            raise
        _drop(locks)
        return commit

    def _foreign_live_paths(self) -> set[str]:
        """Every file path referenced by any OTHER chain of this root (the
        main chain and every branch except the one this handle points at).
        GC (expire/vacuum) must treat these as live: chains share data/."""
        chains: list[LakeTable] = []
        if self.branch is not None:
            chains.append(LakeTable(self.spark, self.root))
        if os.path.isdir(self._branches_dir):
            for name in os.listdir(self._branches_dir):
                if name != self.branch and os.path.isdir(
                    os.path.join(self._branches_dir, name)
                ):
                    chains.append(LakeTable(self.spark, self.root, branch=name))
        out: set[str] = set()
        for ch in chains:
            for v in ch.versions():
                for e in ch._read_commit(v).files:
                    out.add(e["path"])
        return out

    def mor_ready(self, pk: str | list[str] | tuple[str, ...]) -> bool:
        """True when a merge on ``pk`` (single or composite) will take the
        merge-on-read delta path (O(batch) commit, no-commit on empty
        batches): table exists, mor mode set, bucket layout established on
        this exact key-column list."""
        latest = self.latest_version()
        if latest is None:
            return False
        c = self._read_commit(latest)
        return (
            (c.properties or {}).get("write.merge.mode") == "mor"
            and not c.partition_by
            and _spec_current(c.bucket_spec)
            and _spec_pks(c.bucket_spec) == _normalize_pks(pk)
        )

    # ------------------------------------------------------------- write core

    def _segment_path(self, version: int) -> str:
        return os.path.join(self._data_dir, f"{version}-{uuid.uuid4().hex[:8]}.parquet")

    def _write_segment(
        self,
        df: DataFrame,
        version: int,
        partition_by: list[str] | None = None,
        bucket_pk: str | None = None,
        n_buckets: int | None = None,
        sort_within: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> tuple[str, list[dict]]:
        """Write one data segment; returns (segment dir, file-list entries).

        With ``bucket_pk`` the segment is laid out as ``__bucket=<i>`` leaf
        dirs (one entry per bucket, ~one file per bucket via a bucket-column
        repartition); otherwise one entry spanning the segment.
        ``sort_within`` sorts rows within each written file (applied AFTER
        the bucket repartition, which would otherwise destroy it) so
        per-file min/max stats enable data skipping on those columns."""
        os.makedirs(self._data_dir, exist_ok=True)
        path = self._segment_path(version)
        # write.parquet.compression table property (Iceberg
        # write.parquet.compression-codec analog): applied to every segment
        # write; absent → the session's spark.sql.parquet.compression.codec
        codec = (properties or {}).get("write.parquet.compression")
        if bucket_pk is not None:
            n = n_buckets or DEFAULT_N_BUCKETS
            out = df.withColumn(BUCKET_COL, _bucket_expr(bucket_pk, n))
            # repartition on the PK itself: HashPartitioning's partition id
            # equals _bucket_expr, so partition i == bucket i — every task
            # writes exactly ONE leaf dir with one open parquet writer
            # (hashing BUCKET_COL instead would collide bucket ids across
            # partitions: multi-dir tasks + idle tasks)
            out = out.repartition(n, F.col(bucket_pk))
            if sort_within:
                # the dynamic-partition writer requires a sort on the
                # partition column and would inject its own (non-stable)
                # one, destroying any prior order — lead with BUCKET_COL so
                # this sort SATISFIES the writer's requirement and the
                # cluster order survives to the files
                out = out.sortWithinPartitions(BUCKET_COL, *sort_within)
            w = out.write.mode("overwrite")
            if codec:
                w = w.option("compression", codec)
            w.partitionBy(BUCKET_COL).parquet(path)
            return path, self._harvest_leaf_entries(path, BUCKET_COL, bucket_ids=True)
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        writer = df.write.mode("overwrite")
        if codec:
            writer = writer.option("compression", codec)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        n, stats = self._footer_summary(path)
        # "hive" recorded on EVERY entry so the read path splits hive-layout
        # segments from plain ones with a dict lookup, never a per-read
        # directory sniff (the listdir fallback exists only for entries
        # written before the flag)
        return path, [
            {
                "path": path,
                "bucket": None,
                "n_rows": n,
                "stats": stats,
                "hive": bool(partition_by),
            }
        ]

    def _harvest_leaf_entries(
        self, path: str, dir_col: str, bucket_ids: bool
    ) -> list[dict]:
        """One manifest entry per ``dir_col=<i>`` leaf of a just-written
        segment — n_rows + column stats from a single footer pass. The
        shared shape for bucket layouts (``bucket_ids=True``: the dir
        value IS the bucket id) and range-clustered layouts (entries stay
        bucket=None)."""
        entries = []
        for d in sorted(os.listdir(path)):
            if d.startswith(f"{dir_col}="):
                leaf = os.path.join(path, d)
                n, stats = self._footer_summary(leaf)
                entries.append(
                    {
                        "path": leaf,
                        "bucket": int(d.split("=", 1)[1]) if bucket_ids else None,
                        "n_rows": n,
                        "stats": stats,
                        "hive": False,  # leaf dirs hold plain files
                    }
                )
        return entries

    def _recommit(
        self, src: Commit, version: int, parent: int | None, operation: str, **overrides
    ) -> Commit:
        """A METADATA re-commit: a new Commit whose file list / schema /
        layout / properties are ``src``'s (entries deep-copied), at a new
        (version, parent, operation) — the shared shape of restore,
        branch bootstrap, branch merge, and partition evolution. Field
        overrides apply on top (e.g. a new ``partition_by``)."""
        fields = dict(
            version=version,
            parent=parent,
            operation=operation,
            files=[dict(e) for e in src.files],
            n_rows=src.n_rows,
            schema_json=src.schema_json,
            committed_at=time.time(),
            bucket_spec=src.bucket_spec,
            partition_by=src.partition_by,
            properties=src.properties,
        )
        fields.update(overrides)
        return Commit(**fields)

    def _publish_commit(self, commit: Commit, new_paths: list[str]) -> Commit:
        """Atomically publish the commit JSON; on a lost race, remove the
        segments this writer just created (never the carried ones)."""
        os.makedirs(self._commits_dir, exist_ok=True)
        tmp = os.path.join(
            self._commits_dir, f".{commit.version}-{uuid.uuid4().hex[:8]}.json.tmp"
        )
        with open(tmp, "w") as fh:
            json.dump(commit.__dict__, fh)
        final = os.path.join(self._commits_dir, f"{commit.version}.json")
        try:
            # atomic publish that REFUSES to clobber: link fails if a racing
            # writer already committed this version (os.rename would
            # silently overwrite — a lost update)
            os.link(tmp, final)
        except FileExistsError as exc:
            import shutil

            for p in new_paths:
                shutil.rmtree(p, ignore_errors=True)
            raise ConcurrentCommitError(
                f"version {commit.version} was committed concurrently at {self.root}; "
                "re-read the table and retry"
            ) from exc
        finally:
            os.unlink(tmp)
        return commit

    def _next_version(
        self,
        operation: str,
        partition_by: list[str] | None,
        properties: dict[str, str] | None,
    ) -> tuple[int | None, int, list[str] | None, dict[str, str] | None, Commit | None]:
        parent = self.latest_version()
        version = 0 if parent is None else parent + 1
        prev: Commit | None = None
        # carry table config forward for incremental commits (D4 semantics);
        # CREATE OR REPLACE defines the config anew — inheriting there would
        # make partitioning impossible to ever unset
        if parent is not None and operation != "create_or_replace":
            prev = self._read_commit(parent)
            partition_by = partition_by or prev.partition_by
            properties = properties or prev.properties
        return parent, version, partition_by, properties, prev

    def _publish(
        self,
        df: DataFrame,
        operation: str,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        bucket_spec: dict | None = None,
        sort_within: list[str] | None = None,
    ) -> Commit:
        """Full-state publish: the entire table state as one new segment.
        Used by create/replace, compaction, and as the bucketization step
        of the first keyed merge; incremental ops use ``_publish_delta``."""
        parent, version, partition_by, properties, prev = self._next_version(
            operation, partition_by, properties
        )
        if bucket_spec is None and prev is not None:
            bucket_spec = prev.bucket_spec
        if partition_by:
            bucket_spec = None  # hive layout and bucket layout are exclusive
        path, entries = self._write_segment(
            df,
            version,
            partition_by=partition_by,
            bucket_pk=bucket_spec["pk"] if bucket_spec else None,
            n_buckets=bucket_spec["n"] if bucket_spec else None,
            properties=properties,
            sort_within=sort_within,
        )
        for e in entries:
            e["seq"] = version
        self._maybe_attach_blooms(path, df.schema, entries, properties)
        commit = Commit(
            version=version,
            parent=parent,
            operation=operation,
            files=entries,
            n_rows=sum(e["n_rows"] for e in entries),
            schema_json=df.schema.json(),
            committed_at=time.time(),
            bucket_spec=bucket_spec,
            partition_by=partition_by,
            properties=properties,
        )
        return self._publish_commit(commit, [path])

    def _enforce_constraints(
        self,
        df: DataFrame,
        properties: dict[str, str] | None,
        operation: str,
        table_schema=None,
    ) -> None:
        """CHECK-constraint enforcement (Delta `ALTER TABLE ADD CONSTRAINT`
        parity): every ``constraint.<name>`` table property holds a SQL
        boolean expression each WRITTEN row must satisfy. SQL-standard
        CHECK semantics: only a definite FALSE violates (NULL/unknown
        passes). Enforced on the rows a commit writes — create/append/
        insert batches, merge upserts, and update rewrites; deletes can't
        violate.

        Schema evolution: ``table_schema`` (the TABLE's full schema) fills
        columns the batch doesn't carry with typed NULLs before
        evaluation, so the NULL-passes rule applies PER COLUMN — a batch
        lacking ``y`` still violates ``x > 0 AND y IS NOT NULL`` when its
        ``x`` is negative (FALSE AND NULL = FALSE). Expressions that
        still fail analysis raise loudly (never silently skip — a typo'd
        constraint must not read as "enforced"); ``create_or_replace``
        additionally validates every expression against the full frame up
        front, the Delta ADD-CONSTRAINT behavior.

        Cost: ONE ``limit(1)`` probe job for all constraints combined
        (violated names attributed on the one offending row afterwards).
        The probe re-executes the input plan, so a NONDETERMINISTIC
        source expression (e.g. rand()) can pass the probe yet write
        different values — at cluster scale you'd fold the predicate into
        the write job itself, which also removes that caveat; the
        property format wouldn't change."""
        props = properties or {}
        checks = [
            (key[len(CONSTRAINT_PREFIX):], props[key])
            for key in sorted(props)
            if key.startswith(CONSTRAINT_PREFIX)
        ]
        if not checks:
            return
        if table_schema is not None:
            present = set(df.columns)
            fillers = [
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in table_schema.fields
                if f.name not in present
            ]
            if fillers:
                df = df.select("*", *fillers)
        try:
            violated = reduce(
                or_, (F.expr(e).eqNullSafe(False) for _, e in checks)
            )
            bad = df.filter(violated).limit(1).collect()
        except Exception as exc:
            raise CheckViolation(
                f"{operation}: CHECK constraint expression failed to analyze "
                f"against the write batch ({[e for _, e in checks]}): {exc}"
            ) from exc
        if bad:
            row = bad[0]
            hits = (
                local_frame(self.spark, [row], df.schema)
                .select(*[F.expr(e).eqNullSafe(False) for _, e in checks])
                .first()
            )
            names = [name for (name, _), hit in zip(checks, hits) if hit]
            raise CheckViolation(
                f"{operation} violates CHECK constraint(s) {names} "
                f"({dict(checks)}): {row.asDict()}"
            )

    def _maybe_attach_blooms(
        self,
        path: str,
        schema: StructType,
        entries: list[dict],
        properties: dict[str, str] | None,
    ) -> None:
        """Attach per-entry bloom bitsets to just-written BASE entries when
        the table configures ``bloom.columns``; ``schema`` is the schema the
        segment at ``path`` was written with. Never called for MOR delta
        segments: deltas are exempt from all value-based pruning (their rows
        decide other rows' survival), so a delta bloom could never be
        consulted — building one would be pure waste."""
        cfg = bloom_config(properties)
        if cfg:
            cols, m, k = cfg
            attach_blooms(self.spark, path, schema, entries, cols, m, k)

    def _publish_delta(
        self,
        operation: str,
        prev: Commit,
        carried: list[dict],
        new_df: DataFrame | None,
        schema_json: str,
        bucket_spec: dict | None,
        segment_bucketed: bool = True,
        properties: dict[str, str] | None = None,
    ) -> Commit:
        """Incremental publish: parent entries in ``carried`` are referenced
        verbatim (no data movement); only ``new_df`` hits disk — in the
        table's bucket layout unless ``segment_bucketed`` is False (batch
        lacking the pk column). ``bucket_spec`` is always recorded on the
        commit so the table's layout survives unbucketed batches."""
        version = prev.version + 1
        new_paths: list[str] = []
        entries = list(carried)
        if new_df is not None:
            seg_spec = bucket_spec if segment_bucketed else None
            path, new_entries = self._write_segment(
                new_df,
                version,
                bucket_pk=seg_spec["pk"] if seg_spec else None,
                n_buckets=seg_spec["n"] if seg_spec else None,
                properties=prev.properties,
            )
            for e in new_entries:
                e["seq"] = version
            # every _publish_delta caller writes new_df as a BASE segment
            # (appends / COW bucket rewrites); MOR deltas go through
            # _merge_mor_delta's own commit construction and stay bloom-free
            self._maybe_attach_blooms(
                path, new_df.schema, new_entries, prev.properties
            )
            new_paths.append(path)
            entries = carried + new_entries
        if any(e.get("delta") is not None for e in entries):
            # delta file rows overlap base keys — the table count needs a
            # key-resolution join the WRITE path must not pay (append/insert
            # on a delta-bearing table are O(batch) by contract). -1 =
            # unknown; history() resolves and caches it lazily on demand,
            # exactly like _merge_mor_delta's commits.
            n_rows = -1
        else:
            n_rows = sum(e["n_rows"] for e in entries)
        commit = Commit(
            version=version,
            parent=prev.version,
            operation=operation,
            files=entries,
            n_rows=n_rows,
            schema_json=schema_json,
            committed_at=time.time(),
            bucket_spec=bucket_spec,
            partition_by=prev.partition_by,
            properties=properties or prev.properties,
        )
        return self._publish_commit(commit, new_paths)

    @staticmethod
    def _count_from_footers(data_path: str) -> int:
        """Row count from parquet footer metadata — no Spark job, no second
        scan of the just-written data (material on the CDC hot path where
        every micro-batch commits). Called only on NEW segments; carried
        entries keep their recorded counts."""
        return LakeTable._footer_summary(data_path)[0]

    @staticmethod
    def _footer_summary(data_path: str) -> tuple[int, dict[str, list]]:
        """(n_rows, per-column [min, max]) from parquet footers — ONE
        metadata pass, no data read. The stats map is the commit-manifest
        data-skipping surface (Iceberg manifest min/max analog): a column
        appears only when EVERY row group in the entry carries usable
        min/max of a JSON-able scalar type, so recorded bounds are always
        sound. Nested/binary/temporal columns are simply absent (never
        pruned on)."""
        import pyarrow.parquet as pq

        total = 0
        mins: dict[str, Any] = {}
        maxs: dict[str, Any] = {}
        dropped: set[str] = set()
        for dirpath, _dirs, files in os.walk(data_path):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(dirpath, f)).metadata
                total += md.num_rows
                for rg in range(md.num_row_groups):
                    row_group = md.row_group(rg)
                    for ci in range(row_group.num_columns):
                        col = row_group.column(ci)
                        name = col.path_in_schema
                        if name in dropped or "." in name:
                            continue
                        try:
                            st = col.statistics
                            _ = st is not None and st.has_min_max and (st.min, st.max)
                        except Exception:  # pyarrow can't extract for some
                            st = None  # physical types (e.g. decimals)
                        if (
                            st is None
                            or not st.has_min_max
                            or not isinstance(st.min, (int, float, str, bool))
                            or not isinstance(st.max, (int, float, str, bool))
                            or isinstance(st.min, bool) != isinstance(st.max, bool)
                        ):
                            dropped.add(name)
                            mins.pop(name, None)
                            maxs.pop(name, None)
                            continue
                        if name not in mins or st.min < mins[name]:
                            mins[name] = st.min
                        if name not in maxs or st.max > maxs[name]:
                            maxs[name] = st.max
        return total, {c: [mins[c], maxs[c]] for c in mins if c in maxs}

    # ---------------------------------------------------------------- reads

    def _commit_at(self, version: int | str | None, fallback_to_latest: bool) -> Commit:
        """Resolve a version (or tag name) to its commit: None → latest;
        expired/unknown raises, or degrades to latest with
        ``fallback_to_latest`` — the reference's expired-snapshot behavior
        (api_poc.py:462-468). Shared by every read entry point so fallback
        semantics cannot drift."""
        latest = self.latest_version()
        if latest is None:
            raise ExpiredVersionError(f"no commits at {self.root}")
        if version is None:
            version = latest
        try:
            return self._read_commit(self.resolve_ref(version))
        except ExpiredVersionError:
            if not fallback_to_latest:
                raise
            return self._read_commit(latest)

    def commit_at(self, version: int | str | None = None, fallback_to_latest: bool = False) -> Commit:
        """Public pinning handle: resolve a version to its Commit ONCE so a
        caller doing schema derivation + a filtered scan reads one
        consistent snapshot (a commit landing between two independent
        resolutions of 'latest' could otherwise type a filter literal
        against a different schema than the scan it filters)."""
        return self._commit_at(version, fallback_to_latest)

    def read(
        self,
        version: int | str | None = None,
        fallback_to_latest: bool = False,
        commit: Commit | None = None,
    ) -> DataFrame:
        """Table state at ``version`` (default: latest); ``commit`` pins a
        pre-resolved snapshot (see ``commit_at``)."""
        return self._read_data(commit or self._commit_at(version, fallback_to_latest))

    def read_where(
        self,
        condition,
        version: int | str | None = None,
        fallback_to_latest: bool = False,
        commit: Commit | None = None,
    ) -> DataFrame:
        """Filtered read with two manifest-level pruning layers:

        1. BUCKET PRUNING for point predicates: a pk equality / IN-list
           resolves only the bucket dirs holding those keys (plus
           unbucketed segments; matching-bucket MOR deltas are kept by the
           same filter since a key's delta lands in the key's bucket) —
           the P10 point-read serve path costs O(touched buckets) instead
           of O(table).
        2. STATS/BLOOM FILE SKIPPING (Iceberg manifest min/max + Delta
           bloom-index analogs) over a bounded DNF of the predicate:
           every BASE entry that EVERY disjunct's ranges/blooms prove
           empty drops — so conjunctions, IN-lists, and OR-of-point-
           lookups all prune. Delta entries are NEVER
           stats-pruned — a delta's rows decide other rows' merge-on-read
           survival, so dropping one by its VALUES could resurrect
           replaced/deleted base rows; dropping a base entry is sound
           because base rows never influence another row's survival and a
           proven-non-matching resolved row fails the filter anyway.
           ``compact(cluster_by=...)`` tightens these ranges file-by-file.

        Anything unrecognized degrades to the full snapshot scan with the
        filter applied (parquet row-group stats still skip within files)."""
        commit = commit or self._commit_at(version, fallback_to_latest)
        entries = commit.files
        spec = commit.bucket_spec
        if spec and _spec_current(spec) and not commit.partition_by:
            literals = _pk_literal_values(condition, spec["pk"])
            if literals is not None:
                touched = self._buckets_for_literals(
                    literals, spec["pk"], spec["n"], commit
                )
                if touched is not None:
                    entries = [
                        e
                        for e in entries
                        if e["bucket"] is None or e["bucket"] in touched
                    ]
        entries = _prune_by_disjuncts(entries, condition)
        if len(entries) < len(commit.files):
            return self._resolve(
                entries, commit.schema_json, commit.bucket_spec
            ).filter(condition)
        return self._read_data(commit).filter(condition)

    def read_for_join(
        self,
        col: str,
        keys_df: DataFrame,
        keys_col: str | None = None,
        max_keys: int = 10_000,
    ) -> DataFrame:
        """Membership file skipping on a JOIN key — dynamic partition
        pruning for the unpartitioned case (DPP-lite): collect the SMALL
        side's distinct join keys and serve the fact read through
        ``read_where(col IN keys)``, so every manifest layer that prunes
        an IN-list (pk buckets, [min, max] stats, per-entry blooms)
        drops base segments provably holding none of the keys before the
        join ever scans them. The 100 TB shape of "join the fact table
        to a filtered dimension": O(segments containing the dim's keys),
        not O(fact table).

        The key collect is the same driver-side materialization a
        broadcast join performs on the same side — bounded by
        ``max_keys``, raising beyond it (a dimension too big to
        enumerate is too big to probe blooms with; fall back to
        ``read()`` + an ordinary co-located join). NULL keys drop: SQL
        equality never matches NULL. Result-invariance vs the unpruned
        scan is oracle-proven, segment skipping ``inputFiles``-pinned in
        tests/test_bloom.py."""
        kc = keys_col or col
        rows = (
            keys_df.select(F.col(kc).alias("k"))
            .where(F.col("k").isNotNull())
            .distinct()
            .limit(max_keys + 1)
            .collect()
        )
        if len(rows) > max_keys:
            raise ValueError(
                f"read_for_join: small side exceeds max_keys={max_keys} "
                f"distinct join keys — use read() with a co-located join"
            )
        if not rows:
            return self.read().limit(0)
        return self.read_where(F.col(col).isin([r.k for r in rows]))

    def _schema(self, commit: Commit):
        return StructType.fromJson(json.loads(commit.schema_json))

    def _read_data(self, commit: Commit) -> DataFrame:
        return self._resolve(commit.files, commit.schema_json, commit.bucket_spec)

    def _resolve(
        self, entries: list[dict], schema_json: str, bucket_spec: dict | None
    ) -> DataFrame:
        """Merge-on-read resolution. A delta commit (keyed upsert/delete at
        sequence v) replaces/removes ALL rows of its key written BEFORE v;
        base segments written AFTER v (append/insert on a delta-bearing
        table) simply add rows — append never keys, so it must not lose to
        an older delta, and duplicate-key appends must all survive. Per key:

            last = max delta __seq for the key (NULL if none)
            base row  survives  iff last IS NULL or row.__seq > last
            delta row survives  iff row.__seq == last and op != 'd'

        Plain read when no delta entries are present (pure COW state).
        Deltas are written in the same bucket layout as the base, so
        resolving any bucket-subset of entries is self-contained — the
        window shuffle only moves rows of the touched buckets."""
        dv_entries = [e for e in entries if e.get("dv")]
        if dv_entries:
            # positional deletion vectors (delete_vectors enforces a
            # plain-layout pure-COW state, so every other entry is a flat
            # parquet segment): attach per-file row positions to the base
            # scan and anti-join the tombstones out. The DV side is tiny
            # (matched positions only) — broadcastable; base bytes are
            # never rewritten.
            base = [e for e in entries if not e.get("dv")]
            schema = StructType.fromJson(json.loads(schema_json))
            scan = (
                self.spark.read.schema(schema)
                .parquet(*[e["path"] for e in base])
                .withColumn("__fp", F.col("_metadata.file_path"))
                .withColumn("__pos", F.col("_metadata.row_index"))
            )
            dv = (
                self.spark.read.parquet(*[e["path"] for e in dv_entries])
                .select("__fp", "__pos")
            )
            return scan.join(
                F.broadcast(dv), ["__fp", "__pos"], "left_anti"
            ).drop("__fp", "__pos")
        deltas = [e for e in entries if e.get("delta") is not None]
        base_entries = [e for e in entries if e.get("delta") is None]
        if not deltas:
            return self._read_entries(base_entries, schema_json)
        pks = _spec_pks(bucket_spec)
        logical = StructType.fromJson(json.loads(schema_json))
        delta_schema = StructType(list(logical.fields) + [StructField("__op", StringType(), True)])
        parts = []
        base_by_seq: dict[int, list[dict]] = {}
        for e in base_entries:
            base_by_seq.setdefault(int(e.get("seq", 0)), []).append(e)
        for seq in sorted(base_by_seq):
            parts.append(
                self._read_entries(base_by_seq[seq], schema_json)
                .withColumn("__op", F.lit("u"))
                .withColumn("__seq", F.lit(seq).cast("long"))
                .withColumn("__is_delta", F.lit(False))
            )
        by_seq: dict[int, list[str]] = {}
        for e in deltas:
            by_seq.setdefault(int(e["delta"]), []).append(e["path"])
        for seq in sorted(by_seq):
            parts.append(
                self.spark.read.schema(delta_schema)
                .parquet(*by_seq[seq])
                .withColumn("__seq", F.lit(seq).cast("long"))
                .withColumn("__is_delta", F.lit(True))
            )
        allr = parts[0]
        for p in parts[1:]:
            allr = allr.unionByName(p)
        w = Window.partitionBy(*pks)
        last = F.col("__last_delta")
        any_pk_null = reduce(or_, [F.col(p).isNull() for p in pks])
        survives = (
            F.when(
                # COW parity on NULL pks: SQL equality matches nothing (any
                # NULL key component), so the anti-join path leaves base
                # NULL-key rows untouched, inserts NULL-key upserts, and
                # deletes nothing. The window would instead lump all
                # NULL-key rows into ONE group and let a single NULL-key
                # delta wipe them — resolve row-locally.
                any_pk_null,
                ~F.col("__is_delta") | ~F.col("__op").eqNullSafe("d"),
            )
            .when(
                F.col("__is_delta"),
                (F.col("__seq") == last) & ~F.col("__op").eqNullSafe("d"),
            )
            .otherwise(last.isNull() | (F.col("__seq") > last))
        )
        return (
            allr.withColumn(
                "__last_delta",
                F.max(F.when(F.col("__is_delta"), F.col("__seq"))).over(w),
            )
            .filter(survives)
            .drop("__op", "__seq", "__is_delta", "__last_delta")
        )

    def _read_entries(self, entries: list[dict], schema_json: str) -> DataFrame:
        """Read a file list applying the STORED schema: files predating a
        column read it as NULL (schema evolution without rewrites), and
        hive-partition values coerce to the declared types instead of being
        re-inferred from directory names (string '0123' → int 123, leading
        zeros lost). Bucket leaf dirs are passed directly, so ``__bucket``
        never surfaces as a partition column."""
        schema = StructType.fromJson(json.loads(schema_json))
        paths = [e["path"] for e in entries]
        if not paths:
            return local_frame(self.spark, [], schema)

        # Partition evolution / mixed layouts: a hive-partitioned segment
        # (subdirs like col=value) and a plain segment cannot share ONE
        # multi-path scan — Spark raises CONFLICTING_DIRECTORY_STRUCTURES.
        # Each hive segment reads alone (its own dir is the basePath, so
        # its partition values materialize); plain/bucket-leaf/range-leaf
        # segments keep the single shared scan. Column order is normalized
        # to the stored schema before the union (hive reads append
        # partition columns last). Hive-ness comes from the manifest entry
        # ("hive", stamped at write time) — no per-read directory sniffing
        # on the hot path; the listdir fallback only ever runs for entries
        # written before the flag existed.
        def _is_hive(e: dict) -> bool:
            if "hive" in e:
                return bool(e["hive"])
            try:
                return any(
                    "=" in d and os.path.isdir(os.path.join(e["path"], d))
                    for d in os.listdir(e["path"])
                )
            except OSError:
                return False

        hive = [e["path"] for e in entries if _is_hive(e)]
        if not hive:
            return self.spark.read.schema(schema).parquet(*paths)
        names = [f.name for f in schema.fields]
        plain = [p for p in paths if p not in set(hive)]
        frames = [self.spark.read.schema(schema).parquet(p).select(names) for p in hive]
        if plain:
            frames.append(self.spark.read.schema(schema).parquet(*plain).select(names))
        return reduce(lambda a, b: a.unionByName(b), frames)

    def history(self) -> DataFrame:
        """Commit history, newest first — the ``$snapshots`` metadata table
        (api_poc.py:426-428, 490-493). Merge-on-read delta commits defer
        their row count (n_rows = -1 at commit time, so the ingest hot path
        never pays a resolution join); it is resolved here on demand, then
        CACHED back into the commit JSON so a deep delta chain costs one
        resolution job per commit ever, not per history() call (the HTTP
        /view endpoint calls this on every request)."""
        rows = []
        for v in self.versions():
            c = self._read_commit(v)
            if c.n_rows < 0:
                c.n_rows = self._resolve(c.files, c.schema_json, c.bucket_spec).count()
                self._rewrite_commit(c)
            rows.append(c)
        return local_frame(
            self.spark,
            [(c.version, c.parent, c.operation, c.n_rows, c.committed_at) for c in rows],
            "version int, parent int, operation string, n_rows bigint, committed_at double",
        ).orderBy(F.desc("version"))

    def files(self, version: int | str | None = None) -> DataFrame:
        """``$files`` metadata table (Iceberg analog): one row per manifest
        entry of the snapshot — path, bucket id, row count, MOR seq,
        delta/base flag, hive-layout flag, and the per-column min/max stats
        as JSON. The ops surface for debugging layout, skipping, and
        read-amplification questions; O(manifest) driver-side, no data
        files touched."""
        commit = self._commit_at(version, False)
        rows = [
            (
                e["path"],
                e.get("bucket"),
                int(e["n_rows"]),
                e.get("seq"),
                e.get("delta") is not None,
                bool(e.get("hive")),
                json.dumps(e.get("stats") or {}, sort_keys=True),
            )
            for e in commit.files
        ]
        return local_frame(
            self.spark,
            rows,
            "path string, bucket int, n_rows bigint, seq int, "
            "is_delta boolean, hive boolean, stats_json string",
        )

    def partitions(self, version: int | str | None = None) -> DataFrame:
        """``$partitions`` metadata table (Iceberg analog): one row per
        hive partition of the snapshot — the partition-key columns (as
        strings, hive-dir decoded), file count, and row count. Answers
        "is this table skewed / over-partitioned" without scanning data:
        O(partition leaves) footer metadata, no row reads.

        Rows from PLAIN segments of a partitioned table (appends landed
        after ``set_partitioning`` but before the next compaction) have no
        partition dirs to read values from; they are reported under NULL
        partition values rather than silently dropped — the row-count
        total always matches the snapshot. At 100 TB the same contract is
        served from per-partition stats maintained in the manifest at
        write time; the read side here is the fallback that needs no
        manifest migration."""
        from urllib.parse import unquote

        commit = self._commit_at(version, fallback_to_latest=False)
        pby = commit.partition_by
        if not pby:
            raise ValueError(
                "partitions(): table has no hive partition layout "
                "(see files() for the per-entry manifest)"
            )
        agg: dict[tuple, list[int]] = {}

        def _acc(key: tuple, n_files: int, n_rows: int) -> None:
            cell = agg.setdefault(key, [0, 0])
            cell[0] += n_files
            cell[1] += n_rows

        for e in commit.files:
            if e.get("hive") or (
                "hive" not in e
                and any(
                    "=" in d and os.path.isdir(os.path.join(e["path"], d))
                    for d in os.listdir(e["path"])
                )
            ):
                for dirpath, _dirs, fnames in os.walk(e["path"]):
                    pq_files = [f for f in fnames if f.endswith(".parquet")]
                    if not pq_files:
                        continue
                    rel = os.path.relpath(dirpath, e["path"])
                    vals = dict(
                        p.split("=", 1)
                        for p in rel.split(os.sep)
                        if "=" in p
                    )
                    key = tuple(
                        unquote(vals[c]) if c in vals else None for c in pby
                    )
                    n, _stats = self._footer_summary(dirpath)
                    _acc(key, len(pq_files), n)
            else:
                _acc((None,) * len(pby), 0, int(e["n_rows"]))
        rows = [(*k, v[0], v[1]) for k, v in sorted(agg.items(), key=str)]
        ddl = (
            ", ".join(f"`{c}` string" for c in pby)
            + ", n_files int, n_rows bigint"
        )
        return local_frame(self.spark, rows, ddl)

    def _rewrite_commit(self, commit: Commit) -> None:
        """Atomically replace a PUBLISHED commit's JSON in place (only for
        backfilling a lazily-resolved n_rows — the file list never changes).
        A concurrent reader sees either version; both are valid states."""
        tmp = os.path.join(
            self._commits_dir, f".{commit.version}-{uuid.uuid4().hex[:8]}.json.tmp"
        )
        with open(tmp, "w") as fh:
            json.dump(commit.__dict__, fh)
        os.replace(tmp, os.path.join(self._commits_dir, f"{commit.version}.json"))

    # ---------------------------------------------------------------- writes

    def create_or_replace(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        bucket_by: tuple[str, int] | None = None,
    ) -> Commit:
        """K1 + D4: full-table materialization, optionally hive-partitioned
        with table properties recorded in the commit log. ``bucket_by=(pk,
        n)`` lays the table out in pk-hash buckets at creation (Iceberg's
        bucket partition transform) so the first keyed merge is already
        bucket-granular instead of paying a one-time layout rewrite."""
        if bucket_by and partition_by:
            raise ValueError("bucket_by and partition_by are mutually exclusive")
        self._enforce_constraints(df, properties, "create_or_replace")
        for listener in _REPLACE_LISTENERS:
            listener(self.root)  # drop per-root memos tied to old properties
        spec = None
        if bucket_by:
            # bucket_by=("k", n) or (("k1","k2"), n) — composite keys lay
            # out (and later prune) on the LEADING column
            bpks = _normalize_pks(bucket_by[0])
            spec = _bucket_spec(bpks[0], bucket_by[1], pks=bpks)
        return self._publish(
            df,
            "create_or_replace",
            partition_by=partition_by,
            properties=properties,
            bucket_spec=spec,
        )

    def properties(self) -> dict[str, str]:
        latest = self.latest_version()
        if latest is None:
            return {}
        return self._read_commit(latest).properties or {}

    def validate_constraints(self) -> DataFrame:
        """Audit the CURRENT table state against every declared
        ``constraint.<name>`` property — the validation half of Delta's
        two-step ``ALTER TABLE ADD CONSTRAINT`` flow (a constraint added
        via ``set_properties`` is metadata-only; write-time enforcement
        only covers rows written AFTER it). Returns one row per
        constraint: total rows, definite-FALSE violations, NULL/unknown
        rows (which PASS under SQL CHECK three-valued logic), and
        whether enforcement could be enabled losslessly.

        Scale shape: ONE table scan with all constraints evaluated as
        map-side-combined conditional sums; the per-constraint unpack is
        an explode of a constraints-bounded one-row struct array."""
        props = self.properties() or {}
        checks = {
            k[len(CONSTRAINT_PREFIX):]: v
            for k, v in props.items()
            if k.startswith(CONSTRAINT_PREFIX)
        }
        names = sorted(checks)
        df = self.read()
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for i, name in enumerate(names):
            cond = F.expr(checks[name])
            # coalesce: F.sum over ZERO rows is NULL, and an empty table
            # must report 0 violations / 0 unknown / would_pass=true, not
            # NULL (NULL == 0 is NULL, so would_pass would go NULL too)
            aggs.append(
                F.coalesce(
                    F.sum(F.when(cond == F.lit(False), 1).otherwise(0)),
                    F.lit(0),
                ).alias(f"v{i}")
            )
            aggs.append(
                F.coalesce(
                    F.sum(F.when(cond.isNull(), 1).otherwise(0)), F.lit(0)
                ).alias(f"u{i}")
            )
        packed = df.agg(*aggs)
        if not names:
            return packed.select(
                F.lit(None).cast("string").alias("constraint"),
                F.col("n_rows").cast("long").alias("n_rows"),
            ).limit(0).select(
                "constraint",
                "n_rows",
                F.lit(0).cast("long").alias("n_violations"),
                F.lit(0).cast("long").alias("n_unknown"),
                F.lit(True).alias("would_pass"),
            )
        return (
            packed.select(
                "n_rows",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(name).alias("constraint"),
                                F.col(f"v{i}").alias("n_violations"),
                                F.col(f"u{i}").alias("n_unknown"),
                            )
                            for i, name in enumerate(names)
                        ]
                    )
                ).alias("s"),
            )
            .select(
                F.col("s.constraint").alias("constraint"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("s.n_violations").cast("long").alias("n_violations"),
                F.col("s.n_unknown").cast("long").alias("n_unknown"),
                (F.col("s.n_violations") == 0).alias("would_pass"),
            )
            .orderBy("constraint")
        )

    def set_properties(self, props: dict[str, str]) -> Commit:
        """Metadata-only commit: merge ``props`` into the table's
        properties without touching data (Iceberg ``UpdateProperties`` /
        Delta ``SET TBLPROPERTIES``). Carries the parent's file list
        verbatim — O(metadata). The CDC driver uses this to record its
        (stream, batch) watermark for a batch whose merge had nothing to
        write, so crash-replay detection covers empty batches too."""
        latest = self.latest_version()
        if latest is None:
            raise ValueError(f"set_properties: no committed table at {self.root}")
        prev = self._read_commit(latest)
        commit = self._recommit(
            prev,
            latest + 1,
            latest,
            "set_properties",
            properties={**(prev.properties or {}), **props},
        )
        return self._publish_commit(commit, [])

    def read_as_of(self, ts: float) -> DataFrame:
        """P11: commit-time travel — the state as of wall-clock ``ts``
        (latest commit with committed_at <= ts), the Hudi
        ``_hoodie_commit_time <= '<ts>'`` idiom (lake_shell.py:268)."""
        eligible = [
            c for v in self.versions() if (c := self._read_commit(v)).committed_at <= ts
        ]
        if not eligible:
            raise ExpiredVersionError(f"no commit at or before {ts} in {self.root}")
        return self._read_data(eligible[-1])

    @staticmethod
    def _union_schema_json(cur_schema, batch_schema) -> str | None:
        """Union-of-columns schema for an incremental append: current fields
        keep their types; genuinely new fields are added nullable. Returns
        None when a shared column changes type — that needs a real
        unionByName rewrite, not a metadata-only evolution."""
        cur_by_name = {f.name: f for f in cur_schema.fields}
        out = list(cur_schema.fields)
        for f in batch_schema.fields:
            existing = cur_by_name.get(f.name)
            if existing is None:
                out.append(StructField(f.name, f.dataType, True))
            elif existing.dataType != f.dataType:
                return None
        return StructType(out).json()

    def append(self, df: DataFrame) -> Commit:
        """K2: append = write ONLY the batch and carry the parent's file
        list — O(batch) regardless of table size. New columns evolve the
        stored schema; old files read them as NULL."""
        if not self.exists():
            return self._publish(df, "append")
        prev = self._read_commit(self.latest_version())
        self._enforce_constraints(df, prev.properties, "append", self._schema(prev))
        merged = self._union_schema_json(self._schema(prev), df.schema)
        if merged is None:  # type conflict: resolve via unionByName rewrite
            out = self._read_data(prev).unionByName(df, allowMissingColumns=True)
            return self._publish(out, "append")
        # keep the batch in the table's bucket layout when it carries the pk,
        # so later merges stay bucket-granular over appended data too
        bucketable = bool(prev.bucket_spec) and prev.bucket_spec["pk"] in df.columns
        return self._publish_delta(
            "append",
            prev,
            list(prev.files),
            df,
            merged,
            prev.bucket_spec,
            segment_bucketed=bucketable,
        )

    def appended_between(self, v_from: int, v_to: int) -> DataFrame:
        """Rows ADDED by the commits in ``(v_from, v_to]``, read ONLY from
        the segments those commits introduced — the O(batch) change input
        of an append-only ingest stream (Delta CDF's add-file fast path;
        what incremental view maintenance consumes instead of re-diffing
        snapshots). Every commit in the range must be an append/insert:
        an operation that rewrites or logically shadows prior rows
        (merge/update/delete/replace/compact) makes added-segment reads
        an unfaithful delta, so those raise instead of returning a wrong
        feed. Scale shape: O(segments added in range) — no scan of the
        pre-existing table, pinned by ``inputFiles()`` in tests."""
        retained = self.versions()
        for v in (v_from, v_to):
            if v not in retained:
                raise ExpiredVersionError(
                    f"appended_between endpoints must be retained versions "
                    f"(got {v_from}..{v_to}, retained {retained})"
                )
        new_entries: list[dict] = []
        commit = None
        for v in range(v_from + 1, v_to + 1):
            commit = self._commit_at(v, False)
            if commit.operation not in ("append", "insert"):
                raise ValueError(
                    f"appended_between requires append-only history; "
                    f"version {v} is '{commit.operation}'"
                )
            parent_paths = {
                e["path"] for e in self._commit_at(v - 1, False).files
            }
            new_entries.extend(
                e for e in commit.files if e["path"] not in parent_paths
            )
        if not new_entries:
            return self.read(version=v_to).limit(0)
        return self._resolve(
            new_entries, commit.schema_json, commit.bucket_spec
        )

    def signed_changes_between(self, v_from: int, v_to: int) -> DataFrame:
        """Signed row deltas (``_weight`` ±1 multiplicity) of the commits
        in ``(v_from, v_to]``, read ONLY from the segments those commits
        added or removed — the Z-set change input incremental view
        maintenance consumes when the feed is NOT append-only (deletes,
        updates, MERGE): the DBSP / differential-dataflow contract, and
        the generalization of ``appended_between`` (whose added-segment
        read is the weight-+1 special case).

        Per commit the delta is the FILE-LEVEL symmetric difference vs
        its parent: rows of newly-added segments carry +1, rows of
        removed (rewritten-away) segments carry -1. A rewritten segment
        contributes its unchanged rows as cancelling -1/+1 pairs —
        harmless to any LINEAR consumer (aggregate partials, delta-join
        terms: bilinearity cancels them exactly), and the read cost stays
        O(segments the commits touched): bucket-pruned DML rewrites only
        buckets containing changed keys, so carried-forward base segments
        are never opened (``inputFiles``-pinned in tests).

        Schema evolution inside the range is unioned by name (rows from
        pre-evolution segments read absent columns as NULL, exactly as a
        snapshot read would). Merge-on-read delta commits raise: a delta
        file logically shadows rows written before it rather than
        physically replacing segments, so its file-level diff is not a
        faithful row multiset — compact to a COW state first."""
        retained = self.versions()
        for v in (v_from, v_to):
            if v not in retained:
                raise ExpiredVersionError(
                    f"signed_changes_between endpoints must be retained "
                    f"versions (got {v_from}..{v_to}, retained {retained})"
                )
        parts: list[DataFrame] = []
        for v in range(v_from + 1, v_to + 1):
            commit = self._commit_at(v, False)
            parent = self._commit_at(v - 1, False)
            parent_paths = {e["path"] for e in parent.files}
            commit_paths = {e["path"] for e in commit.files}
            added = [e for e in commit.files if e["path"] not in parent_paths]
            removed = [e for e in parent.files if e["path"] not in commit_paths]
            if any(
                e.get("delta") is not None or e.get("dv")
                for e in added + removed
            ):
                raise ValueError(
                    f"signed_changes_between requires a copy-on-write "
                    f"history; version {v} ('{commit.operation}') touches "
                    f"merge-on-read delta or deletion-vector segments — "
                    f"compact first"
                )
            if added:
                parts.append(
                    self._read_entries(added, commit.schema_json).withColumn(
                        "_weight", F.lit(1)
                    )
                )
            if removed:
                parts.append(
                    self._read_entries(removed, parent.schema_json).withColumn(
                        "_weight", F.lit(-1)
                    )
                )
        if not parts:
            return self.read(version=v_to).limit(0).withColumn(
                "_weight", F.lit(1)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def merge(
        self,
        source: DataFrame,
        pk: str | list[str] | tuple[str, ...],
        op_col: str | None = None,
        precombine: str | None = None,
        n_buckets: int | None = None,
        mode: str | None = None,
        extra_properties: dict[str, str] | None = None,
    ) -> Commit:
        """MERGE INTO target USING source ON target.pk = source.pk
        (cdc_merger_optimized.py:171-183):

            WHEN MATCHED AND source.op = 'd' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED AND source.op != 'd' THEN INSERT *

        ``op_col`` names the CDC op column ('c'/'u'/'d'); absent ⇒ pure
        upsert. Any op other than 'd' (including NULL/unknown tokens)
        upserts — MERGE's WHEN MATCHED THEN UPDATE branch — so a malformed
        op can never silently delete a row. ``precombine`` dedups the
        source last-writer-wins per key first (Hudi precombine,
        ingest_csv_hudi.py:78,85) — W1 semantics.

        File granularity: the first keyed merge lays the table out into
        pk-hash buckets; subsequent merges rewrite ONLY buckets containing
        source keys (plus any unbucketed segments from appends/inserts,
        which get absorbed into the layout). Untouched bucket files are
        carried forward byte-identical.

        Schema evolution: source columns absent from the target are ADDED
        (existing rows take NULL), matching append's union-of-columns
        semantics; a first merge into a never-created table bootstraps it
        (CREATE TABLE IF NOT EXISTS parity, cdc_merger_optimized.py:191).
        The reverse direction is whole-row replacement (UPDATE SET *):
        source rows REPLACE matched target rows in full, so a source
        missing target columns writes NULL for them — upstream must send
        complete rows, which Debezium does under REPLICA IDENTITY FULL and
        ``normalize_envelope`` preserves. A type CONFLICT on a shared
        column always resolves via a full rewrite (never a delta commit
        whose declared schema diverges from carried files' physical types).

        ``mode`` (or the ``write.merge.mode`` table property): ``"cow"``
        (default) rewrites touched buckets; ``"mor"`` (merge-on-read, the
        Hudi model for write-heavy CDC) writes ONLY the change batch as a
        delta segment — O(batch) per commit regardless of table size — and
        resolves latest-per-key at read time. After
        ``write.merge.delta.compact-threshold`` delta commits (default 8)
        the next merge folds deltas back into base files, bounding read
        cost. Appends/inserts interleave correctly with pending deltas:
        every segment records the committing version as its resolution
        sequence, so a delta affects only rows written before it. Callers
        pre-deduplicate each merge batch (``precombine`` or upstream
        last-writer-wins).
        """
        # composite keys: a list/tuple pk keys rows on ALL columns; the
        # LEADING column owns the bucket layout (so point reads and touched-
        # bucket pruning work on leading-key literals, the common case for
        # (entity_id, sub_id)-shaped keys)
        #
        # ``extra_properties`` rides the SAME commit as the data (Delta's
        # txn-action / Hudi's checkpoint-metadata pattern): the CDC driver
        # records its (stream, batch) watermark here so a crash-replayed
        # micro-batch is detected atomically with the state it wrote.
        pks = _normalize_pks(pk)
        lead = pks[0]

        def _props_with_extra(base: dict[str, str] | None) -> dict[str, str] | None:
            if not extra_properties:
                return None  # None ⇒ _next_version carries the parent's
            return {**(base or {}), **extra_properties}
        bad = _RESERVED_COLS & set(source.columns) - ({op_col} if op_col else set())
        if bad:
            raise ValueError(f"source uses reserved column names: {sorted(bad)}")
        if precombine is not None:
            w = Window.partitionBy(*pks).orderBy(F.desc(precombine))
            source = (
                source.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        if op_col is not None:
            # null-safe: op IS DISTINCT FROM 'd' upserts; only op == 'd' deletes
            upserts = source.filter(~F.col(op_col).eqNullSafe("d")).drop(op_col)
        else:
            upserts = source
        if not self.exists():  # bootstrap from a pure-insert change stream
            if precombine is not None:
                upserts = upserts.drop(precombine)
            n = n_buckets or DEFAULT_N_BUCKETS
            return self._publish(
                upserts, "merge", bucket_spec=_bucket_spec(lead, n, pks=pks),
                properties=_props_with_extra(None),
            )
        self._assert_no_dv("merge")
        prev = self._read_commit(self.latest_version())
        target_schema = self._schema(prev)
        self._enforce_constraints(upserts, prev.properties, "merge", target_schema)
        # precombine is merge metadata, not data — drop unless the table
        # itself carries that column
        drop_precombine = (
            precombine is not None and precombine not in target_schema.fieldNames()
        )
        if drop_precombine:
            upserts = upserts.drop(precombine)
        spec = prev.bucket_spec
        props = prev.properties or {}
        eff_mode = mode or props.get("write.merge.mode", "cow")
        if prev.partition_by or not _spec_current(spec) or _spec_pks(spec) != pks:
            # hive-partitioned tables, a table not (yet) bucketed on this pk
            # (or keyed on a different column list), or a legacy layout
            # written by a different bucket-hash function (probe-side
            # _bucket_expr would mis-prune it): one full rewrite — which
            # establishes the current bucket layout for every merge after it
            # (unless hive partitioning owns the layout)
            target = self._read_data(prev)
            untouched = target.join(source.select(*pks), pks, "left_anti")
            result = untouched.unionByName(upserts, allowMissingColumns=True)
            new_spec = None if prev.partition_by else _bucket_spec(
                lead, n_buckets or DEFAULT_N_BUCKETS, pks=pks
            )
            return self._publish(
                result, "merge", bucket_spec=new_spec,
                properties=_props_with_extra(prev.properties),
            )
        n = spec["n"]
        if eff_mode == "mor":
            threshold = int(
                props.get("write.merge.delta.compact-threshold", DEFAULT_DELTA_COMPACT_THRESHOLD)
            )
            n_delta_commits = len({e["delta"] for e in prev.files if e.get("delta") is not None})
            if n_delta_commits < threshold:
                return self._merge_mor_delta(
                    prev, source, pks, op_col, precombine, drop_precombine, spec,
                    properties=_props_with_extra(prev.properties),
                )
            # threshold reached: compact — resolve ALL accumulated deltas
            # (not just touched buckets) into fresh base files while
            # applying this batch, so the delta chain resets to zero.
            # The streaming batch reaches here UNPERSISTED (cdc_apply_batch
            # caches only on the COW path), and this branch evaluates it
            # three times (emptiness probe, anti-join build, upsert union) —
            # persist for the branch so the parse/dedup pipeline runs once.
            # P12 guard: an empty/unparseable batch must not trigger a
            # full-table-rewrite commit for zero change rows (the probe is
            # one tiny job, paid only when compaction would run anyway)
            source = source.persist()
            try:
                if source.isEmpty():
                    return prev
                target = self._read_data(prev)
                untouched = target.join(source.select(*pks), pks, "left_anti")
                result = untouched.unionByName(upserts, allowMissingColumns=True)
                return self._publish(
                    result, "merge", bucket_spec=spec,
                    properties=_props_with_extra(prev.properties),
                )
            finally:
                source.unpersist()
        # ---- bucket-granular copy-on-write path
        merged_schema = self._union_schema_json(target_schema, upserts.schema)
        if merged_schema is None:
            # a source column's type CONFLICTS with the target's: committing
            # the coerced union schema would leave carried (untouched-bucket)
            # files physically typed differently than the declared schema —
            # a successful commit that breaks the next read. Same contract
            # as append/_merge_mor_delta: resolve via one full rewrite.
            target = self._read_data(prev)
            untouched = target.join(source.select(*pks), pks, "left_anti")
            result = untouched.unionByName(upserts, allowMissingColumns=True)
            return self._publish(
                result, "merge", bucket_spec=spec,
                properties=_props_with_extra(prev.properties),
            )
        touched = {
            r["b"]
            for r in source.select(_bucket_expr(lead, n).alias("b")).distinct().collect()
        }
        carried = [
            e for e in prev.files if e["bucket"] is not None and e["bucket"] not in touched
        ]
        candidates = [
            e for e in prev.files if e["bucket"] is None or e["bucket"] in touched
        ]
        if any(e["bucket"] is None for e in candidates) and any(
            e.get("delta") is not None for e in carried
        ):
            # an unbucketed segment may hold keys of UNTOUCHED buckets; its
            # rewrite would get a seq newer than those buckets' pending
            # deltas and resurrect deleted/replaced rows — resolve everything
            candidates, carried = list(prev.files), []
        subset = self._resolve(candidates, prev.schema_json, spec)
        untouched_rows = subset.join(source.select(*pks), pks, "left_anti")
        result = untouched_rows.unionByName(upserts, allowMissingColumns=True)
        return self._publish_delta(
            "merge", prev, carried, result, merged_schema, spec,
            properties=_props_with_extra(prev.properties),
        )

    def _merge_mor_delta(
        self,
        prev: Commit,
        source: DataFrame,
        pks: list[str],
        op_col: str | None,
        precombine: str | None,
        drop_precombine: bool,
        spec: dict,
        properties: dict[str, str] | None = None,
    ) -> Commit:
        """Merge-on-read delta commit: write the change batch (deletes kept,
        tagged ``__op``) as a bucketed delta segment; the base file list is
        carried verbatim. Read-time resolution picks the highest commit per
        key (``_resolve``)."""
        delta = source.withColumnRenamed(op_col, "__op") if op_col else source.withColumn(
            "__op", F.lit("u")
        )
        if drop_precombine:
            delta = delta.drop(precombine)
        logical_schema = self._union_schema_json(
            self._schema(prev), delta.drop("__op").schema
        )
        if logical_schema is None:  # type conflict → COW rewrite resolves it
            target = self._read_data(prev)
            upserts = delta.filter(~F.col("__op").eqNullSafe("d")).drop("__op")
            untouched = target.join(source.select(*pks), pks, "left_anti")
            result = untouched.unionByName(upserts, allowMissingColumns=True)
            return self._publish(
                result, "merge", bucket_spec=spec, properties=properties
            )
        version = prev.version + 1
        path, new_entries = self._write_segment(
            delta, version, bucket_pk=pks[0], n_buckets=spec["n"],
            properties=prev.properties,
        )
        if sum(e["n_rows"] for e in new_entries) == 0:
            # empty/unparseable change batch (P12): no commit — checked from
            # the write's own footers, so the streaming hot path never pays
            # a separate emptiness-probe job
            import shutil

            shutil.rmtree(path, ignore_errors=True)
            return prev
        for e in new_entries:
            e["delta"] = version
            e["seq"] = version
        entries = list(prev.files) + new_entries
        # the table's row count needs key resolution (delta rows overlap
        # base keys) — a join the ingest hot path must not pay per batch.
        # -1 = unknown; history() resolves it lazily on demand.
        n_rows = -1
        commit = Commit(
            version=version,
            parent=prev.version,
            operation="merge",
            files=entries,
            n_rows=n_rows,
            schema_json=logical_schema,
            committed_at=time.time(),
            bucket_spec=spec,
            partition_by=prev.partition_by,
            properties=properties or prev.properties,
        )
        return self._publish_commit(commit, [path])

    def _keyed_rewrite(
        self,
        operation: str,
        matches,  # Column predicate selecting rows the op affects
        transform: Callable[[DataFrame], DataFrame],
    ) -> Commit:
        """Shared bucket-granular path for UPDATE/DELETE: find buckets
        holding affected rows, rewrite only those (plus unbucketed
        segments); carry the rest.

        Point-DML fast path: when the predicate is a pk equality or pk
        IN-list (the facade's every ``/update/{t}/{id}`` and
        ``/delete/{t}/{id}`` call), the touched buckets are computed from
        the LITERAL values (``_buckets_for_literals``: no table I/O and no
        Spark job) instead of scanning the table. At 100 TB that is the
        difference between a point DML costing O(1 bucket) and O(table).
        Arbitrary predicates keep the scan."""
        self._assert_no_dv(operation)
        prev = self._read_commit(self.latest_version())
        spec = prev.bucket_spec
        if spec is None or prev.partition_by or not _spec_current(spec):
            return self._publish(transform(self._read_data(prev)), operation)
        n, pk = spec["n"], spec["pk"]
        touched = None
        literals = _pk_literal_values(matches, pk)
        if literals is not None:
            touched = self._buckets_for_literals(literals, pk, n, prev)
        if touched is None:
            # the touched-bucket DISCOVERY scan honors manifest stats: base
            # entries a comparison conjunct proves empty can't contribute a
            # matching row, so they're skipped (deltas always read — same
            # MOR soundness rule as read_where). The REWRITE below still
            # covers whole touched buckets; this only trims discovery I/O.
            scan_entries = _prune_by_disjuncts(prev.files, matches)
            full = self._resolve(scan_entries, prev.schema_json, spec)
            touched = {
                r["b"]
                for r in full.filter(matches.eqNullSafe(True))
                .select(_bucket_expr(pk, n).alias("b"))
                .distinct()
                .collect()
            }
        carried = [
            e for e in prev.files if e["bucket"] is not None and e["bucket"] not in touched
        ]
        candidates = [
            e for e in prev.files if e["bucket"] is None or e["bucket"] in touched
        ]
        if any(e["bucket"] is None for e in candidates) and any(
            e.get("delta") is not None for e in carried
        ):
            # see merge(): absorbing unbucketed rows must not outrank
            # untouched buckets' pending deltas
            candidates, carried = list(prev.files), []
        if not candidates:  # nothing affected: metadata-only commit
            return self._publish_delta(
                operation, prev, carried, None, prev.schema_json, spec
            )
        subset = transform(self._resolve(candidates, prev.schema_json, spec))
        return self._publish_delta(
            operation, prev, carried, subset, prev.schema_json, spec
        )

    def _buckets_for_literals(
        self, values: list, pk: str, n: int, prev: Commit
    ) -> set[int] | None:
        """Bucket ids holding the given pk literal values, computed with the
        SAME JVM expression (`_bucket_expr` = pmod(Murmur3, n)) the layout
        was written with — projected over a len(values)-row local relation
        (``local_frame``), never the table, so the probe runs no Spark job.
        The literals are cast to the table's pk type first: Murmur3
        of int32(5) and int64(5) differ, and the predicate is resolved
        against the column's type. Returns None (caller falls back to the
        scan path) when the pk is missing from the schema or a literal
        can't represent the pk type — exactly the cases where Spark's own
        coercion of the predicate could diverge from a naive hash."""
        if not values:
            return set()
        try:
            pk_field = self._schema(prev)[pk]
            one_col = StructType([StructField(pk, pk_field.dataType, True)])
            probe = local_frame(self.spark, [(v,) for v in values], one_col)
            return {r["b"] for r in probe.select(_bucket_expr(pk, n).alias("b")).collect()}
        except Exception:
            return None

    def delete_where(self, condition) -> Commit:
        """DELETE FROM t WHERE cond (delete_hudi.py:45-91 / api_poc.py:816-823).
        SQL semantics: only rows where the condition is TRUE are removed —
        a NULL predicate keeps the row (plain ``~cond`` would drop it)."""
        return self._keyed_rewrite(
            "delete", condition, lambda df: df.filter(~condition.eqNullSafe(True))
        )

    def delete_vectors(self, condition) -> Commit:
        """DELETE WHERE via positional deletion vectors (Iceberg v2
        position deletes / Delta Lake deletion vectors): no data file is
        rewritten — the commit carries every parent entry untouched plus
        ONE DV sidecar entry of (file, row position) tombstones, and
        reads anti-join the tombstones back out (``_resolve``). The
        third DML granularity next to COW rewrite (``delete_where``,
        write-amplified) and keyed MOR row deltas (``merge(mode="mor")``,
        key-shuffled): a DV commit costs O(matching rows) longs, leaves
        base bytes byte-identical (inputFiles-pinned in tests), and the
        read-side overhead is one broadcast anti-join.

        Stacking: a second ``delete_vectors`` writes only NEWLY-matching
        positions (already-tombstoned rows are subtracted), so
        ``n_rows`` accounting stays exact and DV sidecars never
        double-count. SQL semantics match ``delete_where``: only rows
        where the condition is definitely TRUE are tombstoned.

        Restrictions (enforced, not documented-away): the parent state
        must be plain-layout pure-COW (no hive partitioning, no bucket
        layout, no pending MOR deltas) — positions index flat parquet
        segments. Rewriting DML on a DV-bearing table raises
        (``_assert_no_dv``): a bucket rewrite would carry stale
        tombstones pointing at replaced files; compact first (compaction
        materializes the DV-applied read and drops the sidecars)."""
        parent_v = self.latest_version()
        if parent_v is None:
            raise ValueError("delete_vectors on a never-created table")
        prev = self._read_commit(parent_v)
        if prev.partition_by or prev.bucket_spec or any(
            e.get("delta") is not None for e in prev.files
        ):
            raise ValueError(
                "delete_vectors requires a plain-layout pure-COW table "
                "state (no hive partitioning / buckets / pending MOR "
                "deltas) — positions index flat parquet segments"
            )
        schema = self._schema(prev)
        base_paths = [e["path"] for e in prev.files if not e.get("dv")]
        dv_prev = [e for e in prev.files if e.get("dv")]
        scan = (
            self.spark.read.schema(schema)
            .parquet(*base_paths)
            .withColumn("__fp", F.col("_metadata.file_path"))
            .withColumn("__pos", F.col("_metadata.row_index"))
        )
        hits = scan.filter(condition.eqNullSafe(True)).select("__fp", "__pos")
        if dv_prev:
            old = (
                self.spark.read.parquet(*[e["path"] for e in dv_prev])
                .select("__fp", "__pos")
            )
            hits = hits.join(F.broadcast(old), ["__fp", "__pos"], "left_anti")
        version = parent_v + 1
        dv_dir = os.path.join(
            self._data_dir, f"dv_{version}_{uuid.uuid4().hex[:8]}"
        )
        hits.write.parquet(dv_dir)
        n_del = self.spark.read.parquet(dv_dir).count()
        files = list(prev.files) + [
            {
                "path": dv_dir,
                "bucket": None,
                "n_rows": n_del,
                "seq": version,
                "delta": None,
                "dv": True,
            }
        ]
        commit = Commit(
            version=version,
            parent=parent_v,
            operation="delete_dv",
            files=files,
            n_rows=prev.n_rows - n_del,
            schema_json=prev.schema_json,
            committed_at=time.time(),
            bucket_spec=None,
            partition_by=None,
            properties=prev.properties,
        )
        return self._publish_commit(commit, [dv_dir])

    def _assert_no_dv(self, operation: str) -> None:
        """Rewriting DML refuses on a DV-bearing state: a selective
        rewrite would carry tombstones whose positions point at replaced
        files. Compaction materializes the DV-applied read instead."""
        latest = self.latest_version()
        if latest is None:
            return
        if any(e.get("dv") for e in self._read_commit(latest).files):
            raise ValueError(
                f"{operation} on a deletion-vector-bearing table is not "
                f"supported — compact() first to materialize the "
                f"DV-applied state"
            )

    def update_where(self, condition, assignments: dict[str, Any]) -> Commit:
        """UPDATE t SET c=v,... WHERE cond (api_poc.py:743-756; pk never
        updated by the facade)."""
        cur_schema = self._schema(self._read_commit(self.latest_version()))
        unknown = set(assignments) - set(cur_schema.fieldNames())
        if unknown:
            raise ValueError(f"unknown columns: {sorted(unknown)}")

        def apply(df: DataFrame) -> DataFrame:
            return df.select(
                *[
                    F.when(condition, F.lit(assignments[c]).cast(cur_schema[c].dataType))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in assignments
                    else F.col(c)
                    for c in cur_schema.fieldNames()
                ]
            )

        props = self._read_commit(self.latest_version()).properties or {}
        if any(k.startswith(CONSTRAINT_PREFIX) for k in props):
            # Delta enforces CHECK on UPDATE too: probe the post-assignment
            # image of the affected rows (bucket/stats-pruned scan) before
            # any rewrite commits
            self._enforce_constraints(
                apply(self.read_where(condition)), props, "update", cur_schema
            )
        return self._keyed_rewrite("update", condition, apply)

    def insert_rows(self, rows: list[dict[str, Any]]) -> Commit:
        """INSERT INTO t VALUES ... with typed casting against the table
        schema (api_poc.py:781-795 + get_cast_val :704-726). Writes ONLY
        the new rows — a 2-row insert commits 2 rows, not the table."""
        prev = self._read_commit(self.latest_version())
        schema = self._schema(prev)
        unknown = {k for r in rows for k in r} - set(schema.fieldNames())
        if unknown:
            raise ValueError(f"unknown columns: {sorted(unknown)}")
        new = local_frame(
            self.spark,
            [tuple(r.get(c) for c in schema.fieldNames()) for r in rows],
            schema,
        )
        self._enforce_constraints(new, prev.properties, "insert")
        if prev.partition_by:  # keep hive layout consistent: rewrite path
            return self._publish(self._read_data(prev).unionByName(new), "insert")
        return self._publish_delta(
            "insert", prev, list(prev.files), new, prev.schema_json, prev.bucket_spec
        )

    # ---------------------------------------------------------- maintenance

    def compact(self, target_partitions: int | None = None, cluster_by: list[str] | None = None) -> Commit:
        """OPTIMIZE / rewrite_data_files analog: fold the accumulated file
        list back into one segment — ``target_partitions`` files (or one
        file per bucket when the table is bucketed), optionally sorted
        within files by ``cluster_by`` so min/max stats enable data
        skipping on those columns (the poor man's Z-order; Iceberg tables
        in the reference claim 'partitioning & compaction',
        OZONE_ARCHITECTURE.md:76)."""
        prev = self._read_commit(self.latest_version())
        df = self._read_data(prev)
        if prev.bucket_spec is None:
            n = target_partitions or max(1, self.spark.sparkContext.defaultParallelism // 4)
            df = df.repartition(n)
        # the sort must survive to the files: on a bucketed table
        # _write_segment repartitions on the pk AFTER this point, so the
        # sort is applied inside _write_segment (post-repartition), not here
        return self._publish(df, "compact", sort_within=cluster_by)

    def compact_clustered(self, key, n_ranges: int | None = None) -> Commit:
        """OPTIMIZE ... ZORDER analog: rewrite the table into ``n_ranges``
        segments each covering a DISJOINT range of ``key`` (a column name
        or expression — ``lakehouse.zorder.zorder_key`` builds the
        multi-column interleaved key), one manifest ENTRY per range. The
        entry-level [min, max] stats then let ``read_where`` drop whole
        segments for range/equality predicates on the clustered column(s)
        — the piece plain ``compact(cluster_by=...)`` can't provide for an
        unbucketed table (its single entry spans everything; only
        row-group stats help there).

        Range boundaries come from approx quantiles of the key (equi-DEPTH
        cells — skew-robust, unlike equi-width; duplicate quantile bounds
        collapse, so a low-cardinality key yields UP TO ``n_ranges``
        segments, possibly fewer). NULL keys land in range 0. Trade-off
        recorded in the commit: the range layout REPLACES any bucket
        layout (they're different physical orders — Delta makes the same
        choice for ZORDER), so the next keyed merge pays one re-bucketing
        rewrite."""
        latest = self.latest_version()
        if latest is None:
            raise ExpiredVersionError(f"no commits at {self.root}")
        prev = self._read_commit(latest)
        if prev.partition_by:
            raise ValueError("compact_clustered does not apply to hive-partitioned tables")
        # persisted: the quantile pass and the clustered write both consume
        # the resolved frame — on a MOR table an unpersisted plan would
        # repeat the delta-resolution window shuffle per consumer
        df = self._read_data(prev).persist()
        try:
            key_col = F.col(key) if isinstance(key, str) else key
            kd = key_col.cast("double")
            n = n_ranges or max(1, self.spark.sparkContext.defaultParallelism // 4)
            bounds: list[float] = []
            if n > 1:
                bounds = sorted(
                    set(
                        df.select(kd.alias("__ck")).approxQuantile(
                            "__ck", [i / n for i in range(1, n)], 0.001
                        )
                    )
                )
            rid = F.lit(0)
            for b in bounds:
                rid = rid + F.when(kd > F.lit(b), 1).otherwise(0)
            parent, version, _pb, properties, _prev2 = self._next_version(
                "compact", None, None
            )
            os.makedirs(self._data_dir, exist_ok=True)
            path = self._segment_path(version)
            w = (
                df.withColumn(RANGE_COL, rid.cast("int"))
                .repartition(max(1, len(bounds) + 1), F.col(RANGE_COL))
                .sortWithinPartitions(RANGE_COL, key_col)
                .write.mode("overwrite")
            )
            # the one writer outside _write_segment — the compression table
            # property must reach it too
            codec = (properties or {}).get("write.parquet.compression")
            if codec:
                w = w.option("compression", codec)
            w.partitionBy(RANGE_COL).parquet(path)
        finally:
            df.unpersist()
        entries = self._harvest_leaf_entries(path, RANGE_COL, bucket_ids=False)
        for e in entries:
            e["seq"] = version
        self._maybe_attach_blooms(path, df.schema, entries, properties)
        commit = Commit(
            version=version,
            parent=parent,
            operation="compact",
            files=entries,
            n_rows=sum(e["n_rows"] for e in entries),
            schema_json=df.schema.json(),
            committed_at=time.time(),
            bucket_spec=None,
            partition_by=None,
            properties=properties,
        )
        return self._publish_commit(commit, [path])

    def vacuum_orphans(self, older_than_s: float = 3600.0) -> list[str]:
        """Iceberg ``remove_orphan_files`` analog: delete segment dirs
        under ``data/`` that NO commit references — the leftovers of
        writers that crashed between writing a segment and publishing (or
        that lost the publish race but died before their own cleanup).

        A segment is live when any commit entry's path equals it or lives
        beneath it (bucket/range entries are leaf dirs inside the segment
        dir). The ``older_than_s`` age guard (mtime) keeps an IN-FLIGHT
        writer's just-written, not-yet-published segment safe — same
        contract as Iceberg's ``older_than`` timestamp. Returns the
        removed dirs."""
        import shutil

        if not os.path.isdir(self._data_dir):
            return []
        referenced: set[str] = set()
        for v in self.versions():
            for e in self._read_commit(v).files:
                referenced.add(os.path.realpath(e["path"]))
        # segments referenced only from a branch chain are NOT orphans
        for p in self._foreign_live_paths():
            referenced.add(os.path.realpath(p))
        removed: list[str] = []
        cutoff = time.time() - older_than_s

        def newest_mtime(path: str) -> float:
            # an in-flight bucketed/partitioned write refreshes only LEAF
            # mtimes (part files land in subdirs), so the age test must
            # take the newest timestamp anywhere in the segment tree — the
            # top-level dir alone would misread a slow writer as old
            try:
                newest = os.path.getmtime(path)
            except OSError:  # segment vanished since listdir: nothing to GC
                return time.time()
            for dirpath, dirs, files in os.walk(path):
                for name in dirs + files:
                    try:
                        newest = max(newest, os.path.getmtime(os.path.join(dirpath, name)))
                    except OSError:  # racing writer moved/removed it: young
                        return time.time()
            return newest

        for d in sorted(os.listdir(self._data_dir)):
            seg = os.path.join(self._data_dir, d)
            if not os.path.isdir(seg):
                continue
            real = os.path.realpath(seg)
            live = any(r == real or r.startswith(real + os.sep) for r in referenced)
            if not live and newest_mtime(seg) < cutoff:
                shutil.rmtree(seg)
                removed.append(seg)
        return removed

    def restore(self, version: int) -> Commit:
        """RESTORE TABLE ... TO VERSION AS OF (Delta `RESTORE` / Iceberg
        rollback parity): publish a NEW commit whose file list, schema,
        layout and properties are the target version's — O(metadata)
        regardless of table size, with the botched interval still fully
        time-travelable (restore never rewrites history; it appends to it).
        The restore commit re-references the target's segments, so
        ``expire_snapshots``' live-set computation keeps them on disk even
        after the intermediate commits expire. Restoring the current
        version is a legal no-op commit; an expired target raises
        ``ExpiredVersionError`` (the data may be gone)."""
        target = self._read_commit(version)
        latest = self.latest_version()
        if latest is None:  # unreachable: _read_commit would have raised
            raise ExpiredVersionError(f"no commits at {self.root}")
        return self._publish_commit(
            self._recommit(target, version=latest + 1, parent=latest, operation="restore"),
            [],
        )

    def set_partitioning(self, partition_by: list[str] | None) -> Commit:
        """PARTITION EVOLUTION (Iceberg ``REPLACE PARTITION FIELD`` analog):
        an O(metadata) commit that changes the hive layout FUTURE full
        rewrites use — the next ``compact()`` (and any COW rewrite) lands
        in the new layout; existing segments keep their directory layout,
        stay readable (the read path already mixes hive and plain segments
        — appends write plain segments against hive bases), and keep their
        own partition pruning at the scan. No data moves at evolution time;
        that is the entire point of the operation.

        ``partition_by=None`` un-partitions. A non-empty layout clears the
        bucket spec (hive and bucket layouts are exclusive — same rule as
        ``_publish``); the next keyed merge would pay one re-bucketing
        rewrite, exactly like after ``compact_clustered``."""
        latest = self.latest_version()
        if latest is None:
            raise ExpiredVersionError(f"no commits at {self.root}")
        prev = self._read_commit(latest)
        if partition_by:
            cols = {f.name for f in self._schema(prev).fields}
            missing = [c for c in partition_by if c not in cols]
            if missing:
                raise ValueError(f"unknown partition column(s): {missing}")
        operation = (
            f"set_partitioning:{','.join(partition_by) if partition_by else '-'}"
        )
        if partition_by and any(e.get("delta") is not None for e in prev.files):
            # pending MOR deltas need the bucket spec to resolve — carrying
            # them into a commit that clears it would brick every read.
            # Resolve them NOW via a full rewrite into the new layout (the
            # one case evolution pays a data pass; Delta's equivalent is
            # compacting before a layout change).
            return self._publish(
                self._read_data(prev), operation, partition_by=list(partition_by)
            )
        return self._publish_commit(
            self._recommit(
                prev,
                version=latest + 1,
                parent=latest,
                operation=operation,
                bucket_spec=None if partition_by else prev.bucket_spec,
                partition_by=list(partition_by) if partition_by else None,
            ),
            [],
        )

    def clone_to(self, dest_root: str, version: int | None = None) -> "LakeTable":
        """Zero-copy SHALLOW CLONE (Delta `CLONE` / Iceberg snapshot-ref
        parity): publish a bootstrap commit at ``dest_root`` whose file
        entries reference THIS table's segments — O(metadata) regardless of
        table size, so a 100 TB table clones in milliseconds for dev/test
        forks. The clone is independently writable: its own DML creates
        segments under its own root, copy-on-write carrying untouched
        source-segment references forward.

        Caveat (same as Delta shallow clones): expiring/vacuuming the
        SOURCE below the cloned snapshot breaks the clone. The clone's own
        ``expire_snapshots`` never deletes source segments (ownership
        guard)."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise ValueError(f"cannot clone empty table at {self.root}")
        # nesting guard: a clone root inside the source root (or containing
        # it) would make the clone's expiry ownership test claim SOURCE
        # segments as its own (and vice versa) — rmtree'ing shared data
        src_r = os.path.realpath(self.root)
        dst_r = os.path.realpath(dest_root)
        try:
            common = os.path.commonpath([src_r, dst_r])
        except ValueError:  # mixed drives/anchors: disjoint, allowed
            common = None
        if common in (src_r, dst_r):
            raise ValueError(
                f"clone destination must not be nested inside (or contain) "
                f"the source root: src={src_r}, dest={dst_r}"
            )
        src = self._read_commit(v)
        dest = LakeTable(self.spark, dest_root)
        if dest.exists():
            raise ValueError(f"clone destination already exists: {dest_root}")
        # the clone's version counter CONTINUES from the source's: carried
        # file entries keep their merge-on-read ``seq`` values (stamped from
        # the source's counter), so a bootstrap at version 0 would hand the
        # clone's first own delta seq=1 — losing to (or duplicating against)
        # carried source deltas with higher seq. Starting at ``v`` makes
        # every clone write seq > every carried seq, exactly as a
        # continuation of the source would order them.
        commit = Commit(
            version=v,
            parent=None,
            operation=f"clone:{self.root}@{v}",
            files=src.files,
            n_rows=src.n_rows,
            schema_json=src.schema_json,
            committed_at=time.time(),
            bucket_spec=src.bucket_spec,
            partition_by=src.partition_by,
            properties=src.properties,
        )
        # new_paths=[]: this writer owns no segments — a lost race must not
        # delete the source's data
        dest._publish_commit(commit, [])
        return dest

    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        """Metadata/data GC: drop all but the newest ``keep_last`` commits
        (Iceberg ``write.metadata.delete-after-commit`` +
        ``previous-versions-max``, cdc_merger_optimized.py:108,200).
        Data files still referenced by a surviving commit are kept (file
        lists share entries across commits); unreferenced ones are removed.
        Returns the expired version numbers; subsequent reads of an expired
        version raise, or fall back to latest when requested — exactly the
        reference's expired-snapshot UX (api_poc.py:462-468)."""
        import shutil

        if keep_last < 1:
            # Iceberg-style expiry never removes the current snapshot;
            # keep_last=0 would delete the whole table
            raise ValueError("keep_last must be >= 1")
        versions = self.versions()
        # tagged versions are GC ROOTS (Iceberg ref retention): retention
        # counts from the tail, but a tag anywhere in history pins its
        # commit AND its data until the tag is deleted
        retained = set(versions[-keep_last:]) | set(self.tags().values())
        expired = [v for v in versions if v not in retained]
        live = {
            e["path"]
            for v in versions
            if v in retained
            for e in self._read_commit(v).files
        }
        # branches share this root's data/: every OTHER chain's references
        # are live no matter what this chain retains
        live |= self._foreign_live_paths()
        dead_parents: set[str] = set()
        # ownership test on REAL paths: a raw string-prefix check both
        # misses owned segments recorded under a symlinked / relative /
        # trailing-sep spelling of the same root (permanent leak) and —
        # combined with unnormalized roots — could claim a foreign path
        # that merely shares a name prefix
        own_root = os.path.realpath(self.root)

        def _owned(path: str) -> bool:
            p = os.path.realpath(path)
            try:
                return p != own_root and os.path.commonpath([own_root, p]) == own_root
            except ValueError:  # mixed drives/anchors
                return False

        for v in expired:
            commit = self._read_commit(v)
            for e in commit.files:
                # ownership guard: a shallow clone's early commits reference
                # segments under the SOURCE table's root — expiry must never
                # delete data this table does not own (only the source's own
                # expiry may, which is the documented clone caveat)
                if not _owned(e["path"]):
                    continue
                if e["path"] not in live and os.path.isdir(e["path"]):
                    shutil.rmtree(e["path"])
                    dead_parents.add(os.path.dirname(e["path"]))
            os.remove(os.path.join(self._commits_dir, f"{v}.json"))
            # an engine-materialized search index for an expired version can
            # have no readers left (deferred deletion, LakeEngine._search_index)
            for leaf in (f"{v}.parquet", f"{v}_postings.parquet", f"{v}_tokens.parquet"):
                idx = os.path.join(self.root, "_search_index", leaf)
                if os.path.isdir(idx):
                    shutil.rmtree(idx, ignore_errors=True)
        # a bucketed segment whose leaves are all gone leaves an empty shell
        for parent in dead_parents:
            if parent != self._data_dir and os.path.isdir(parent) and not any(
                f.endswith(".parquet") or os.path.isdir(os.path.join(parent, f))
                for f in os.listdir(parent)
            ):
                shutil.rmtree(parent)
        return expired
