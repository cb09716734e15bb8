"""Output checks computed apart from the program under test.

Each check returns a list of problems (empty when the output is right), so
a run can count and report them instead of stopping at the first one. None
of these functions calls into the engine: the expected side comes from
the generator's own log (plain Python) or from DuckDB.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb

from .gen import CdcLog

# ---------------------------------------------------------------- CDC


def replay_cdc(log: CdcLog) -> dict[int, tuple]:
    """Final table state by applying the change log in log order."""
    state = {row[0]: row for row in log.seed_rows}
    for batch in log.batches:
        for op, row in batch:
            if op == "d":
                state.pop(row[0], None)
            else:
                state[row[0]] = row
    return state


def check_cdc(rows: list[tuple], log: CdcLog) -> list[str]:
    """``rows``: the final table as (id, name, email, city, updated_at)."""
    problems = []
    expected = replay_cdc(log)
    want_live = len(log.seed_rows) + log.inserts - log.deletes
    if len(expected) != want_live:
        problems.append(f"cdc: replay holds {len(expected)} keys, generator counted {want_live}")
    if len(rows) != want_live:
        problems.append(f"cdc: table holds {len(rows)} rows, expected {want_live} live keys")
    got = {}
    for r in rows:
        if r[0] in got:
            problems.append(f"cdc: key {r[0]} appears twice")
        got[r[0]] = tuple(r)
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    wrong = [k for k in expected.keys() & got.keys() if got[k] != expected[k]]
    for label, keys in (("missing", missing), ("unexpected", extra), ("stale", wrong)):
        if keys:
            problems.append(f"cdc: {len(keys)} {label} keys, e.g. {sorted(keys)[:3]}")
    return problems


# ---------------------------------------------------------------- values


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "__float__") and not isinstance(v, (int, bool)):
        return float(v)  # Decimal
    return v


def _key(row: tuple) -> tuple:
    # floats sort on 6 decimals so last-bit summation-order differences
    # between engines cannot reorder rows
    return tuple(
        (v is None, "" if v is None else f"{v:.6f}" if isinstance(v, float) else str(v))
        for v in row
    )


def same_rows(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> str:
    """'' when the two row multisets are equal (order-insensitive; floats
    equal within a relative tolerance of ``rel``), else a reason."""
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)} expected"
    a = sorted((tuple(_norm(v) for v in r) for r in got), key=_key)
    b = sorted((tuple(_norm(v) for v in r) for r in want), key=_key)
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return f"row width {len(ra)} vs {len(rb)}"
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, (int, float)):
                if not math.isclose(x, y, rel_tol=rel, abs_tol=1e-9):
                    return f"value {x} vs {y} in {ra}"
            elif x != y:
                return f"value {x!r} vs {y!r} in {ra}"
    return ""


def check_operator(name: str, columns: list[str], rows: list[tuple], oracle) -> list[str]:
    """``oracle``: a DuckDB relation result as (columns, rows)."""
    o_cols, o_rows = oracle
    if sorted(columns) != sorted(o_cols):
        return [f"{name}: columns {sorted(columns)} vs oracle {sorted(o_cols)}"]
    order = [columns.index(c) for c in sorted(columns)]
    o_order = [o_cols.index(c) for c in sorted(o_cols)]
    msg = same_rows(
        [tuple(r[i] for i in order) for r in rows],
        [tuple(r[i] for i in o_order) for r in o_rows],
    )
    return [f"{name}: {msg}"] if msg else []


# ---------------------------------------------------------------- serving


SQL = {
    # TPC-H Q1/Q3/Q6 shapes; {d} is a per-call date, identical text runs on
    # Spark SQL and DuckDB
    "q1": """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                    sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
                    avg(l_discount) AS avg_disc, count(*) AS count_order
             FROM lineitem WHERE l_shipdate <= TIMESTAMP '{d}'
             GROUP BY l_returnflag, l_linestatus""",
    "q3": """SELECT o_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue,
                    o_orderdate, o_orderpriority
             FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
             WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '{d}'
               AND l_shipdate > TIMESTAMP '{d}'
             GROUP BY o_orderkey, o_orderdate, o_orderpriority
             ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q6": """SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n_items
             FROM lineitem WHERE l_shipdate >= TIMESTAMP '{d}'
               AND l_shipdate < TIMESTAMP '{d}' + INTERVAL 1 YEAR
               AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
}

ORDER_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
    "o_orderpriority",
]


class ServeModel:
    """The benchmark's own model of the served warehouse, in DuckDB.

    ``orders`` is mutated alongside every engine DML call; every write is
    logged with the table version it produced and the row images before
    and after, so diffs, change feeds and time-travel counts have an
    expected answer that never came from the engine."""

    def __init__(self, tables: dict):
        self.con = duckdb.connect()
        for name in ("customer", "orders", "lineitem", "documents"):
            self.con.register(f"_{name}_src", tables[name])
            self.con.execute(f"CREATE TABLE {name} AS SELECT * FROM _{name}_src")
            self.con.unregister(f"_{name}_src")
        self.counts: dict[int, int] = {}
        # version -> {key: (before_row | None, after_row | None)}
        self.log: dict[int, dict[int, tuple]] = {}

    def order_row(self, key: int) -> tuple | None:
        r = self.con.execute(
            f"SELECT {', '.join(ORDER_COLS)} FROM orders WHERE o_orderkey = ?", [key]
        ).fetchone()
        return tuple(r) if r else None

    def count(self) -> int:
        return self.con.execute("SELECT count(*) FROM orders").fetchone()[0]

    def record(self, version: int, key: int | None, before, after) -> None:
        """Log one engine write that produced ``version``."""
        self.counts[version] = self.count()
        if key is not None and before != after:
            self.log.setdefault(version, {})[key] = (before, after)

    def insert(self, row: dict) -> None:
        cols = list(row)
        self.con.execute(
            f"INSERT INTO orders ({', '.join(cols)}) VALUES ({', '.join('?' * len(cols))})",
            [row[c] for c in cols],
        )

    def update(self, key: int, assignments: dict) -> None:
        sets = ", ".join(f"{c} = ?" for c in assignments)
        self.con.execute(
            f"UPDATE orders SET {sets} WHERE o_orderkey = ?", [*assignments.values(), key]
        )

    def delete(self, key: int) -> None:
        self.con.execute("DELETE FROM orders WHERE o_orderkey = ?", [key])

    def sql(self, shape: str, date: str) -> list[tuple]:
        return self.con.execute(SQL[shape].format(d=date)).fetchall()

    def diff_keys(self, v_old: int, v_new: int) -> dict[int, str]:
        """Net change per key between two versions: NEW / MODIFIED / DELETED."""
        first: dict[int, tuple] = {}
        last: dict[int, tuple] = {}
        for v in sorted(self.log):
            if v_old < v <= v_new:
                for k, (before, after) in self.log[v].items():
                    first.setdefault(k, before)
                    last[k] = after
        out = {}
        for k, before in first.items():
            after = last[k]
            if before == after:
                continue
            out[k] = "NEW" if before is None else "DELETED" if after is None else "MODIFIED"
        return out

    def change_keys(self, v_from: int, v_to: int) -> set[tuple[int, int]]:
        """(key, version) of every effective per-commit change in the interval."""
        return {
            (k, v) for v, kv in self.log.items() if v_from < v <= v_to for k in kv
        }

    def search_count(self, words: list[str]) -> int:
        """Documents whose lower-cased searchable text contains every word."""
        cond = " AND ".join(["contains(t, ?)"] * len(words))
        return self.con.execute(
            "SELECT count(*) FROM (SELECT lower(concat_ws(' ', text, lang, source, "
            f"CAST(n_chars AS VARCHAR))) AS t FROM documents) WHERE {cond}",
            words,
        ).fetchone()[0]


def check_search(hits: list[tuple], words: list[str], top_k: int, expected_total: int) -> list[str]:
    """``hits``: (doc_id, text, lang, source, n_chars) rows the engine returned."""
    problems = []
    for h in hits:
        blob = " ".join("" if v is None else str(v) for v in h[1:]).lower()
        missing = [w for w in words if w not in blob]
        if missing:
            problems.append(f"search {words}: hit {h[0]} lacks {missing}")
    want = min(top_k, expected_total)
    if len(hits) != want:
        problems.append(f"search {words}: {len(hits)} hits, expected {want}")
    return problems
