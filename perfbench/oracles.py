"""Expected outputs computed apart from the program: DuckDB for the
daily bill, plain Python for the table model and the dedup properties.
"""

from __future__ import annotations

import re
from decimal import Decimal

import duckdb

from gen import day, jaccard

# Spark's round(double, 2) rounds the decimal form of the double HALF_UP;
# DuckDB reproduces it by going through the double's shortest string.
_AMOUNT = "round(CAST(CAST(page_views / 1e6 * 10.0 AS VARCHAR) AS DECIMAL(38,18)), 2)"


def expected_bill(con: duckdb.DuckDBPyConnection, sf_dir: str, day_idx: int) -> dict[int, tuple[int, Decimal]]:
    """shop -> (page_views, billing_amount) for every customer on one day."""
    d0, d1 = day(day_idx), day(day_idx + 1)
    rows = con.execute(f"""
        WITH pv AS (
            SELECT user_id AS shop, count(*) AS n
            FROM read_parquet('{sf_dir}/events.parquet')
            WHERE event_type = 'view'
              AND ts >= TIMESTAMP '{d0}' AND ts < TIMESTAMP '{d1}'
            GROUP BY user_id),
        bill AS (
            SELECT c.c_custkey AS shop, coalesce(pv.n, 0) AS page_views
            FROM read_parquet('{sf_dir}/customer.parquet') c
            LEFT JOIN pv ON c.c_custkey = pv.shop)
        SELECT shop, page_views, {_AMOUNT} AS amount FROM bill
    """).fetchall()
    return {int(s): (int(pv), Decimal(amt)) for s, pv, amt in rows}


def expected_report(bill: dict[int, tuple[int, Decimal]], top_n: int = 10) -> dict:
    """The report payload report.build_report should give for `bill`."""
    active = sorted(((-pv, s) for s, (pv, _) in bill.items() if pv > 0))[:top_n]
    return {
        "total_amount": float(sum(a for _, a in bill.values())),
        "total_page_views": sum(pv for pv, _ in bill.values()),
        "n_shops": len(bill),
        "top_shops": [
            {"shop": s, "page_views": -npv, "page_views_str": f"{-npv:,}",
             "amount_str": f"{bill[s][1]:.2f}"}
            for npv, s in active
        ],
    }


def charged(bill: dict[int, tuple[int, Decimal]]) -> set[int]:
    return {s for s, (_, a) in bill.items() if a > 0}


class TableModel:
    """Pure-Python state of the table_dml table keyed by (shop, day), and
    of its aggregate view grouped by billing_date."""

    def __init__(self) -> None:
        self.rows: dict[tuple[int, str], tuple[int, float, str]] = {}

    def append(self, batch) -> None:
        for shop, d, v, amt, st in batch:
            self.rows[(shop, d)] = (v, amt, st)

    merge = append  # update-all on match, insert otherwise

    def delete_day(self, d: str) -> None:
        self.rows = {k: v for k, v in self.rows.items() if k[1] != d}

    def scan(self, lo: int, hi: int) -> list[tuple]:
        return sorted((s, d, *v) for (s, d), v in self.rows.items() if lo <= s < hi)

    def agg_view(self) -> dict[str, tuple[int, int]]:
        out: dict[str, list[int]] = {}
        for (_, d), (v, _, _) in self.rows.items():
            acc = out.setdefault(d, [0, 0])
            acc[0] += 1
            acc[1] += v
        return {d: (n, s) for d, (n, s) in out.items()}


def normalize(text: str) -> str:
    """llm.normalize_text on ASCII input."""
    t = re.sub(r"[^a-z0-9\s]", " ", text.lower())
    return re.sub(r"\s+", " ", t).strip()


def components(pairs) -> dict[int, int]:
    """Union-find over pairs: node -> smallest node id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def pair_jaccard(sh: dict[int, set], a: int, b: int) -> float:
    """Jaccard of two docs' shingle sets, rounded as llm.jaccard rounds."""
    return round(jaccard(sh[a], sh[b]), 6)
