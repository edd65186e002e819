"""Independent oracle: expected results computed from the generator's own
bookkeeping (``expected/*.parquet`` written by gen.py), in plain Python.

Nothing here imports the program; the runner hands in what the program
returned, as pyarrow tables or row tuples.
"""

from __future__ import annotations

import collections
import datetime as dt
import os

import pyarrow.parquet as pq

TICKET_COLS = [
    "id", "sporting_event_id", "sport_location_id", "seat_level",
    "seat_section", "seat_row", "seat", "ticketholder_id", "ticket_price",
]


class Oracle:
    def __init__(self, root: str):
        exp = os.path.join(root, "expected")
        self.tickets = {
            r["id"]: tuple(r[c] for c in TICKET_COLS)
            for r in pq.read_table(os.path.join(exp, "tickets.parquet")).to_pylist()
        }
        self.persons = {
            r["id"]: r["full_name"]
            for r in pq.read_table(os.path.join(exp, "persons.parquet")).to_pylist()
        }
        self.hist = pq.read_table(os.path.join(exp, "hist.parquet")).to_pylist()

    # -- final states ------------------------------------------------------

    def ticket_mismatches(self, got) -> int:
        """Rows of the program's ticket table (pyarrow table) that differ
        from the expected final state, counting missing and extra keys."""
        rows = got.select(TICKET_COLS).to_pylist()
        have = collections.Counter(tuple(r[c] for c in TICKET_COLS) for r in rows)
        want = collections.Counter(self.tickets.values())
        return sum(((have - want) + (want - have)).values())

    def expected_view(self) -> dict[str, tuple]:
        """ticket_view (¶51/¶53): per person full_name, the ticket they
        hold whose latest purchase is newest -> (id, price, ts string)."""
        latest: dict[float, dict] = {}
        for h in self.hist:
            t = h["sporting_event_ticket_id"]
            if t not in latest or h["transaction_date_time"] > latest[t]["transaction_date_time"]:
                latest[t] = h
        best: dict[float, tuple] = {}
        for tid, row in self.tickets.items():
            h = latest.get(tid)
            if h is None:
                continue
            holder = row[TICKET_COLS.index("ticketholder_id")]
            cand = (h["transaction_date_time"], tid, row[TICKET_COLS.index("ticket_price")])
            if holder in self.persons and (holder not in best or cand > best[holder]):
                best[holder] = cand
        return {
            self.persons[p]: (str(tid), price, _spark_ts_string(ts))
            for p, (ts, tid, price) in best.items()
        }

    def view_mismatches(self, got) -> int:
        rows = got.select(
            ["full_name", "id", "ticket_price", "transaction_date_time"]
        ).to_pylist()
        have = collections.Counter(
            (r["full_name"], r["id"], r["ticket_price"], r["transaction_date_time"])
            for r in rows
        )
        want = collections.Counter(
            (name, *v) for name, v in self.expected_view().items()
        )
        return sum(((have - want) + (want - have)).values())

    # -- query results -----------------------------------------------------

    def query_ok(self, query: list, rows: list[tuple]) -> bool:
        kind = query[0]
        if kind == "point":
            return rows == [self.tickets[query[1]]]
        if kind == "dup_check":
            return rows == []
        if kind == "holder_count":
            want = collections.Counter(
                r[TICKET_COLS.index("ticketholder_id")] for r in self.tickets.values()
            )
            return dict(rows) == dict(want) and len(rows) == len(want)
        raise ValueError(f"unknown query {query!r}")


def _spark_ts_string(ts: dt.datetime) -> str:
    """A UTC timestamp cast to string the way Spark does (session time
    zone UTC, whole seconds)."""
    return ts.astimezone(dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
