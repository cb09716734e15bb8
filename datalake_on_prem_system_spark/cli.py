"""Command-line client — mirrors the reference's ``lake_cli.py:122-157`` /
``lake_shell.py`` verbs against the local engine (no HTTP hop: the CLI talks
straight to LakeEngine).

    python -m datalake_on_prem_system_spark.cli tables
    python -m datalake_on_prem_system_spark.cli ingest data.csv mytable [--mode upsert --pk id]
    python -m datalake_on_prem_system_spark.cli read mytable [--columns a,b] [--filter-col c --filter-val v] [--limit 20]
    python -m datalake_on_prem_system_spark.cli sql "SELECT ..."
    python -m datalake_on_prem_system_spark.cli insert mytable col=val [col=val ...]
    python -m datalake_on_prem_system_spark.cli update mytable <pk> col=val [...]
    python -m datalake_on_prem_system_spark.cli delete mytable <pk>
    python -m datalake_on_prem_system_spark.cli history mytable
    python -m datalake_on_prem_system_spark.cli travel mytable <version>
    python -m datalake_on_prem_system_spark.cli diff mytable <v_old> <v_new>
    python -m datalake_on_prem_system_spark.cli search mytable "query words"
    python -m datalake_on_prem_system_spark.cli repl   # one verb per line on stdin
"""

from __future__ import annotations

import argparse
import os
import shlex
import sys

from pyspark.errors import AnalysisException

# errors in what the user typed: the one-shot CLI prints them and exits 1,
# the repl prints them and reads the next line. LookupError covers
# ExpiredVersionError (unknown table/version); AnalysisException covers SQL
# that names an unknown table or column.
_USER_ERRORS = (ValueError, LookupError, AnalysisException)


def _kv(pairs: list[str]) -> dict[str, str]:
    out = {}
    for p in pairs:
        k, sep, v = p.partition("=")
        if not sep:
            raise ValueError(f"expected col=val, got {p!r}")
        out[k] = v
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="lake")
    ap.add_argument("--warehouse", default=os.environ.get("LAKE_WAREHOUSE", "./warehouse"))
    ap.add_argument("--limit-show", type=int, default=20)
    sub = ap.add_subparsers(dest="verb", required=True)

    sub.add_parser("tables")
    sub.add_parser("repl", help="read verbs from stdin, one per line, against one engine")
    p = sub.add_parser("ingest")
    p.add_argument("csv"); p.add_argument("table")
    p.add_argument("--mode", default="create", choices=["create", "append", "upsert"])
    p.add_argument("--pk"); p.add_argument("--precombine")
    p.add_argument("--partition-by", help="comma-separated Hudi-style partition-path columns")
    p = sub.add_parser("read")
    p.add_argument("table"); p.add_argument("--columns"); p.add_argument("--filter-col")
    p.add_argument("--filter-val"); p.add_argument("--limit", type=int)
    p = sub.add_parser("sql"); p.add_argument("query")
    p = sub.add_parser("insert"); p.add_argument("table"); p.add_argument("pairs", nargs="+")
    p = sub.add_parser("update"); p.add_argument("table"); p.add_argument("pk"); p.add_argument("pairs", nargs="+")
    p = sub.add_parser("delete"); p.add_argument("table"); p.add_argument("pk")
    p = sub.add_parser("history"); p.add_argument("table")
    p = sub.add_parser("travel"); p.add_argument("table"); p.add_argument("version")
    p = sub.add_parser("tag"); p.add_argument("table"); p.add_argument("name"); p.add_argument("--version", type=int)
    p = sub.add_parser("diff"); p.add_argument("table"); p.add_argument("v_old", type=int); p.add_argument("v_new", type=int)
    p = sub.add_parser("search"); p.add_argument("table"); p.add_argument("query")
    p = sub.add_parser("compact"); p.add_argument("table"); p.add_argument("--files", type=int); p.add_argument("--cluster-by"); p.add_argument("--zorder-by", help="comma-separated numeric columns: Morton-key range clustering (one manifest entry per range)"); p.add_argument("--ranges", type=int, default=16)
    p = sub.add_parser("expire"); p.add_argument("table"); p.add_argument("--keep-last", type=int, default=2)
    p = sub.add_parser("clone"); p.add_argument("table"); p.add_argument("dest"); p.add_argument("--version", type=int)
    p = sub.add_parser("restore"); p.add_argument("table"); p.add_argument("version", type=int)
    p = sub.add_parser("changes"); p.add_argument("table"); p.add_argument("v_from", type=int); p.add_argument("v_to", type=int)
    p = sub.add_parser("branch"); p.add_argument("table"); p.add_argument("action", choices=["create", "list", "read", "merge", "delete"]); p.add_argument("name", nargs="?"); p.add_argument("--version", type=int)
    p = sub.add_parser("partition"); p.add_argument("table"); p.add_argument("--by", help="comma-separated hive partition columns; omit to un-partition")
    p = sub.add_parser("files"); p.add_argument("table"); p.add_argument("--version", type=int)
    p = sub.add_parser("partitions"); p.add_argument("table"); p.add_argument("--version", type=int)
    p = sub.add_parser("scd2"); p.add_argument("table"); p.add_argument("action", choices=["init", "apply", "asof"]); p.add_argument("--csv", help="init/apply: update batch as CSV (header row)"); p.add_argument("--key", help="apply/asof: natural key column(s), comma-separated"); p.add_argument("--attrs", help="apply: tracked attribute columns, comma-separated"); p.add_argument("--ts", help="init/apply: effective date; asof: lookup date")

    args = ap.parse_args(argv)

    from .engine import LakeEngine
    from .session import get_spark

    eng = LakeEngine(get_spark(app_name="lake_cli"), args.warehouse)
    n = args.limit_show
    if args.verb == "repl":
        return _repl(ap, eng, n)

    try:
        return _dispatch(args, eng, n)
    except _USER_ERRORS as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1


def _repl(ap: argparse.ArgumentParser, eng, n: int) -> int:
    """Interactive loop over the verb table: each line is shlex-split and
    run through the same parser and ``_dispatch`` on one engine. A bad
    line prints its error and the loop goes on; a blank line does nothing
    (it never repeats the last verb); EOF ends it."""
    prompt = "lake> " if sys.stdin.isatty() else ""
    while True:
        try:
            line = input(prompt)
        except EOFError:
            return 0
        try:
            argv = shlex.split(line)
            if not argv:
                continue
            args = ap.parse_args(argv)
            if args.verb == "repl":
                raise ValueError("already in the repl")
            _dispatch(args, eng, n)
        except SystemExit as exc:
            # argparse has printed its own usage error; a verb's usage
            # check raises SystemExit with the message
            if isinstance(exc.code, str):
                print(f"error: {exc.code}", file=sys.stderr)
        except _USER_ERRORS as exc:
            print(f"error: {exc}", file=sys.stderr)


def _dispatch(args, eng, n: int) -> int:

    if args.verb == "tables":
        for t in eng.list_tables():
            print(t)
    elif args.verb == "ingest":
        parts = [c.strip() for c in args.partition_by.split(",") if c.strip()] if args.partition_by else None
        df = eng.ingest_csv(args.table, args.csv, mode=args.mode, pk=args.pk, precombine=args.precombine, partition_by=parts)
        # count-verify (A1) — the read-back TABLE size, which differs from
        # the batch size for append/upsert modes
        print(f"ingested into {args.table}; table now has {df.count()} rows")
    elif args.verb == "read":
        eng.read(
            args.table,
            columns=[c.strip() for c in args.columns.split(",") if c.strip()] if args.columns else None,
            filter_col=args.filter_col,
            filter_val=args.filter_val,
            limit=args.limit,
        ).show(n, truncate=False)
    elif args.verb == "sql":
        eng.query(args.query).show(n, truncate=False)
    elif args.verb == "insert":
        eng.insert(args.table, _kv(args.pairs)); print("inserted 1 row")
    elif args.verb == "update":
        eng.update(args.table, args.pk, _kv(args.pairs)); print(f"updated pk={args.pk}")
    elif args.verb == "delete":
        eng.delete(args.table, args.pk); print(f"deleted pk={args.pk}")
    elif args.verb == "history":
        eng.history(args.table).show(n, truncate=False)
    elif args.verb == "travel":
        eng.time_travel(args.table, args.version).show(n, truncate=False)
    elif args.verb == "diff":
        eng.diff(args.table, args.v_old, args.v_new).show(n, truncate=False)
    elif args.verb == "search":
        eng.search(args.table, args.query).show(n, truncate=False)
    elif args.verb == "compact":
        tbl = eng.catalog.table(args.table)
        if args.zorder_by:
            if args.cluster_by or args.files:
                raise SystemExit(
                    "--zorder-by is its own layout: it conflicts with "
                    "--cluster-by/--files (range count comes from --ranges)"
                )
            from .lakehouse.zorder import zorder_key

            cols = [c.strip() for c in args.zorder_by.split(",") if c.strip()]
            c = tbl.compact_clustered(
                zorder_key(tbl.read(), cols), n_ranges=args.ranges
            )
        else:
            c = tbl.compact(
                target_partitions=args.files,
                cluster_by=[c.strip() for c in args.cluster_by.split(",") if c.strip()] if args.cluster_by else None,
            )
        print(f"compacted {args.table} at version {c.version}")
    elif args.verb == "expire":
        gone = eng.catalog.table(args.table).expire_snapshots(keep_last=args.keep_last)
        print(f"expired versions: {gone}")
    elif args.verb == "clone":
        eng.clone(args.table, args.dest, version=args.version)
        print(f"cloned {args.table} -> {args.dest} (zero-copy)")
    elif args.verb == "restore":
        eng.restore(args.table, args.version)
        print(f"restored {args.table} to version {args.version} (new commit)")
    elif args.verb == "tag":
        v = eng.tag(args.table, args.name, version=args.version)
        print(f"tagged {args.table}@{v} as {args.name}")
    elif args.verb == "changes":
        eng.changes(args.table, args.v_from, args.v_to).drop("changed_cells").show(
            n, truncate=False
        )
    elif args.verb == "files":
        eng.files(args.table, version=args.version).drop("stats_json").show(
            n, truncate=False
        )
    elif args.verb == "partitions":
        eng.partitions(args.table, version=args.version).show(n, truncate=False)
    elif args.verb == "scd2":
        if args.ts is None:
            raise SystemExit("scd2 requires --ts")
        if args.action == "asof":
            if not args.key:
                raise SystemExit("scd2 asof requires --key")
            key = [c.strip() for c in args.key.split(",") if c.strip()]
            eng.scd2_as_of(args.table, key, args.ts).show(n, truncate=False)
        else:
            if not args.csv:
                raise SystemExit(f"scd2 {args.action} requires --csv")
            from .sources.csv_ingest import read_csv

            batch = read_csv(eng.spark, args.csv)
            if args.action == "init":
                eng.scd2_init(args.table, batch, args.ts)
                print(f"initialized SCD2 dimension {args.table} effective {args.ts}")
            else:
                if not (args.key and args.attrs):
                    raise SystemExit("scd2 apply requires --key and --attrs")
                key = [c.strip() for c in args.key.split(",") if c.strip()]
                attrs = [c.strip() for c in args.attrs.split(",") if c.strip()]
                changed = eng.scd2_apply(args.table, batch, key, attrs, args.ts)
                print(
                    f"applied batch effective {args.ts}"
                    if changed
                    else "no-op batch (nothing committed)"
                )
    elif args.verb == "partition":
        cols = [c.strip() for c in args.by.split(",") if c.strip()] if args.by else None
        v = eng.set_partitioning(args.table, cols)
        print(f"partition layout of {args.table} set to {cols or 'unpartitioned'} at version {v} (applies at next compact)")
    elif args.verb == "branch":
        if args.action == "list":
            for name, head in eng.branches(args.table).items():
                print(f"{name}\t@{head}")
        elif args.name is None:
            raise SystemExit(f"branch {args.action} requires a name")
        elif args.action == "create":
            v = eng.create_branch(args.table, args.name, version=args.version)
            print(f"branched {args.table}@{v} as {args.name}")
        elif args.action == "read":
            eng.read_branch(args.table, args.name, version=args.version).show(
                n, truncate=False
            )
        elif args.action == "merge":
            v = eng.merge_branch(args.table, args.name)
            print(f"merged {args.name} into {args.table} at version {v}")
        elif args.action == "delete":
            existed = eng.delete_branch(args.table, args.name)
            print(f"deleted branch {args.name}" if existed else f"no branch {args.name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
