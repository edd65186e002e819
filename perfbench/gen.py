"""Seeded, open-loop CDC load generator for the benchmark.

Runs as its own process so the feed it writes cannot be moved by changes
to the program under test; it imports nothing from the program except
the two schema functions it checks its own files against at startup.
Every feed commit is one parquet file of CDC envelopes, written with
pyarrow into a staging directory during set-up and renamed into the
feed directory when it is due, so the stream never sees a partial file.

Protocol (one line per message on stdin / stdout):

    gen -> runner   ready {"commits": [...], "warmup": [...], "queries": [...]}
    runner -> gen   tail <t0>     land tail commit i at t0 + i * interval
    gen -> runner   tail-done
    runner -> gen   burst         land every burst commit at once
    gen -> runner   burst-done
    runner -> gen   end           write ledger.json and expected/*, exit
    gen -> runner   bye

Usage: python3 perfbench/gen.py --workload ticket_tail --seed 1 --root DIR
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

# Workload shapes. ``interval_s`` is a fixed open-loop period, set from the
# drain capacity and IVM apply time measured on a 4-core host (see
# perfbench/README.md); it does not adapt to the program's speed, so a
# slower program shows as worse freshness, not as a lighter load.
SHAPES = {
    "ticket_tail": {
        "persons": 20_000,
        "tickets": 100_000,
        "tail_lead_s": 5.5,
        "burst_commits": 5,
        "transfers": 500,
        "interval_s": 2.5,
    },
    "flagship_view": {
        "persons": 1_000,
        "tickets": 5_000,
        "tail_lead_s": 20.0,
        "transfers": 200,
        "person_inserts": 2,
        "person_renames": 2,
        "interval_s": 10.0,
    },
    "query_back": {
        "persons": 20_000,
        "tickets": 100_000,
        "delta_commits": 4,
        "transfers": 500,
        "query_blocks": 3,
    },
}

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

_TICKET_FIELDS = [
    ("id", pa.float64()),
    ("sporting_event_id", pa.float64()),
    ("sport_location_id", pa.float64()),
    ("seat_level", pa.int32()),
    ("seat_section", pa.string()),
    ("seat_row", pa.string()),
    ("seat", pa.string()),
    ("ticketholder_id", pa.float64()),
    ("ticket_price", pa.float32()),
]
_PERSON_FIELDS = [
    ("id", pa.float64()),
    ("full_name", pa.string()),
    ("last_name", pa.string()),
    ("first_name", pa.string()),
]
_HIST_FIELDS = [
    ("sporting_event_ticket_id", pa.float64()),
    ("purchase_by_id", pa.float64()),
    ("transaction_date_time", pa.timestamp("us", tz="UTC")),
    ("transferred_from_id", pa.float64()),
    ("purchase_price", pa.float32()),
]
# union payload of the multiplexed feed, in the program's field order
_MUX_FIELDS = (
    _PERSON_FIELDS
    + [f for f in _TICKET_FIELDS if f[0] != "id"]
    + _HIST_FIELDS
)


def envelope_arrow_schema(fields, mux: bool = False) -> pa.Schema:
    row = pa.struct([pa.field(n, t) for n, t in fields])
    cols = [
        pa.field("op", pa.string(), nullable=False),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("seq", pa.int64(), nullable=False),
        pa.field("before", row),
        pa.field("after", row),
    ]
    if mux:
        cols.insert(0, pa.field("src", pa.string(), nullable=False))
    return pa.schema(cols)


TICKET_ENVELOPE = envelope_arrow_schema(_TICKET_FIELDS)
MUX_ENVELOPE = envelope_arrow_schema(_MUX_FIELDS, mux=True)


def ticket_row(tid: int, holder: int) -> dict:
    return {
        "id": float(tid),
        "sporting_event_id": float(tid % 97),
        "sport_location_id": float(tid % 13),
        "seat_level": tid % 5,
        "seat_section": f"S{tid % 40}",
        "seat_row": f"R{tid % 25}",
        "seat": str(tid),
        "ticketholder_id": float(holder),
        "ticket_price": 10.0 + (tid % 500) * 0.5,
    }


def person_row(pid: int, name_gen: int = 0) -> dict:
    last = f"Last{pid}" if name_gen == 0 else f"Renamed{pid}x{name_gen}"
    first = f"First{pid}"
    return {
        "id": float(pid),
        "full_name": f"{first} {last}",
        "last_name": last,
        "first_name": first,
    }


class Book:
    """The generator's own record of source-table state: the oracle's
    ground truth."""

    def __init__(self, rng: random.Random, persons: int, tickets: int):
        self.rng = rng
        self.persons = {p: 0 for p in range(1, persons + 1)}  # id -> name gen
        self.holders = {t: rng.randrange(1, persons + 1) for t in range(1, tickets + 1)}
        self.hist: list[tuple] = []  # (tid, buyer, ts, from, price)
        self.seq = 0
        self.clock = 0  # seconds after EPOCH, one tick per event

    def stamp(self) -> tuple[dt.datetime, int]:
        self.seq += 1
        self.clock += 1
        return EPOCH + dt.timedelta(seconds=self.clock), self.seq

    def ticket_inserts(self) -> list[dict]:
        out = []
        for tid, holder in self.holders.items():
            ts, seq = self.stamp()
            out.append({"op": "I", "ts": ts, "seq": seq, "before": None,
                        "after": ticket_row(tid, holder)})
        return out

    def person_inserts(self) -> list[dict]:
        out = []
        for pid in self.persons:
            ts, seq = self.stamp()
            out.append({"op": "I", "ts": ts, "seq": seq, "before": None,
                        "after": person_row(pid)})
        return out

    def transfers(self, n: int, with_hist: bool) -> tuple[list, list]:
        """n ticket transfers: a ticket U, plus a hist I when with_hist."""
        tickets, hist = [], []
        n_tickets, people = len(self.holders), list(self.persons)
        for _ in range(n):
            tid = self.rng.randrange(1, n_tickets + 1)
            old = self.holders[tid]
            new = people[self.rng.randrange(len(people))]
            self.holders[tid] = new
            ts, seq = self.stamp()
            tickets.append({"op": "U", "ts": ts, "seq": seq,
                            "before": ticket_row(tid, old),
                            "after": ticket_row(tid, new)})
            if with_hist:
                price = ticket_row(tid, new)["ticket_price"]
                h = {"sporting_event_ticket_id": float(tid),
                     "purchase_by_id": float(new),
                     "transaction_date_time": ts,
                     "transferred_from_id": float(old),
                     "purchase_price": price}
                self.hist.append((tid, new, ts, old, price))
                _, seq = self.stamp()
                hist.append({"op": "I", "ts": ts, "seq": seq, "before": None,
                             "after": h})
        return tickets, hist

    def person_changes(self, inserts: int, renames: int) -> list[dict]:
        out = []
        for _ in range(inserts):
            pid = max(self.persons) + 1
            self.persons[pid] = 0
            ts, seq = self.stamp()
            out.append({"op": "I", "ts": ts, "seq": seq, "before": None,
                        "after": person_row(pid)})
        people = list(self.persons)
        for _ in range(renames):
            pid = people[self.rng.randrange(len(people))]
            before = person_row(pid, self.persons[pid])
            self.persons[pid] += 1
            ts, seq = self.stamp()
            out.append({"op": "U", "ts": ts, "seq": seq, "before": before,
                        "after": person_row(pid, self.persons[pid])})
        return out


def _mux(src: str, events: list[dict]) -> list[dict]:
    names = [n for n, _ in _MUX_FIELDS]

    def widen(r):
        return None if r is None else {n: r.get(n) for n in names}

    return [
        {"src": src, "op": e["op"], "ts": e["ts"], "seq": e["seq"],
         "before": widen(e["before"]), "after": widen(e["after"])}
        for e in events
    ]


def write_commit(path: str, events: list[dict], schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pylist(events, schema=schema), path)


def spark_type(t):
    """The Spark type a pyarrow type reads back as."""
    from pyspark.sql import types as T

    if pa.types.is_struct(t):
        return T.StructType([T.StructField(f.name, spark_type(f.type)) for f in t])
    return {
        pa.string(): T.StringType(),
        pa.int64(): T.LongType(),
        pa.int32(): T.IntegerType(),
        pa.float64(): T.DoubleType(),
        pa.float32(): T.FloatType(),
        pa.timestamp("us", tz="UTC"): T.TimestampType(),
    }[t]


def ticket_row_schema():
    """Spark row schema of the ticket feed (the reference's
    sporting_event_ticket), as the runner declares it to the stream."""
    return spark_type(pa.struct([pa.field(n, t) for n, t in _TICKET_FIELDS]))


def check_schema(path: str, mux: bool) -> None:
    """Read one written file back and require it to match, field for
    field, the envelope schema the program's feed reader declares."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.cdc_feed import (
        envelope_schema,
    )
    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.ivm import (
        mux_feed_schema,
    )

    want = mux_feed_schema() if mux else envelope_schema(ticket_row_schema())
    got = spark_type(pa.struct(list(pq.read_schema(path))))
    if got.simpleString() != want.simpleString():
        raise SystemExit(
            f"feed schema drift:\n  wrote {got.simpleString()}\n"
            f"  want  {want.simpleString()}"
        )


class Generator:
    def __init__(self, workload: str, seed: int, seconds: int, root: str):
        self.workload = workload
        self.shape = SHAPES[workload]
        self.seconds = seconds
        self.rng = random.Random(seed)
        self.root = root
        self.feed = os.path.join(root, "feed")
        self.stage = os.path.join(root, "stage")
        os.makedirs(self.feed, exist_ok=True)
        os.makedirs(self.stage, exist_ok=True)
        self.book = Book(self.rng, self.shape["persons"], self.shape["tickets"])
        self.commits: list[dict] = []  # phase, file, events, due, landed
        self.queries: list[list] = []
        self.warmup: list[list] = []
        self.mtime0 = time.time() - 3600.0

    def _add(self, phase: str, events: list[dict], mux: bool) -> dict:
        i = len(self.commits)
        name = f"commit-{i:06d}.parquet"
        staged = os.path.join(self.stage, name)
        write_commit(staged, events, MUX_ENVELOPE if mux else TICKET_ENVELOPE)
        # strictly increasing mtimes (ms apart) pin the stream's
        # consumption order to the commit order: the file source takes
        # the oldest unseen file first
        t = self.mtime0 + i * 0.002
        os.utime(staged, (t, t))
        c = {"i": i, "phase": phase, "file": name, "events": len(events),
             "due": None, "landed": None}
        self.commits.append(c)
        return c

    def _land(self, c: dict) -> None:
        os.rename(os.path.join(self.stage, c["file"]),
                  os.path.join(self.feed, c["file"]))
        c["landed"] = time.time()

    def _jittered(self) -> int:
        # distinct per-commit sizes let the runner check the file->epoch
        # mapping against the stream's per-batch input row counts
        k = self.shape["transfers"]
        return k - self.rng.randrange(0, max(1, k // 10))

    def prepare(self) -> None:
        s, b = self.shape, self.book
        if self.workload == "flagship_view":
            self._add("snapshot", _mux("person", b.person_inserts())
                      + _mux("ticket", b.ticket_inserts()), True)
            for _ in range(self.tail_commits()):
                tk, hs = b.transfers(self._jittered(), with_hist=True)
                pc = b.person_changes(s["person_inserts"], s["person_renames"])
                self._add("tail", _mux("person", pc) + _mux("ticket", tk)
                          + _mux("hist", hs), True)
        else:
            self._add("snapshot", b.ticket_inserts(), False)
            if self.workload == "ticket_tail":
                phases = [("tail", self.tail_commits()), ("burst", s["burst_commits"])]
            else:
                # query_back's delta commits land together after the
                # snapshot has been compacted
                phases = [("burst", s["delta_commits"])]
            for phase, n in phases:
                for _ in range(n):
                    self._add(phase, b.transfers(self._jittered(), False)[0], False)
            if self.workload == "query_back":
                # a warm-up block holding every query shape, then timed
                # blocks of three point lookups and one scan aggregate,
                # shuffled within each block, so every seed times the
                # same mix of query kinds
                tids = list(b.holders)
                warm = [["point", float(self.rng.choice(tids))] for _ in range(2)]
                warm += [["holder_count"], ["dup_check"]]
                self.rng.shuffle(warm)
                self.warmup = warm
                blocks = max(s["query_blocks"], round(self.seconds / 10))
                for j in range(blocks):
                    block = [["point", float(self.rng.choice(tids))] for _ in range(3)]
                    block.append(["dup_check"] if j % 2 else ["holder_count"])
                    self.rng.shuffle(block)
                    self.queries += block
        check_schema(os.path.join(self.stage, self.commits[0]["file"]),
                     mux=self.workload == "flagship_view")
        t = time.time()
        for c in self.commits:
            if c["phase"] == "snapshot":
                c["due"] = t
                self._land(c)

    def tail_commits(self) -> int:
        """Tail commits that fit the run after the snapshot drain (and,
        for ticket_tail, the burst)."""
        s = self.shape
        n = round((self.seconds - s["tail_lead_s"]) / s["interval_s"])
        return max(1, n)

    def land_tail(self, t0: float) -> None:
        period = self.shape["interval_s"]
        tail = [c for c in self.commits if c["phase"] == "tail"]
        for k, c in enumerate(tail):
            c["due"] = t0 + k * period
            wait = c["due"] - time.time()
            if wait > 0:
                time.sleep(wait)
            self._land(c)

    def land_burst(self) -> None:
        burst = [c for c in self.commits if c["phase"] == "burst"]
        t = time.time()
        for c in burst:
            c["due"] = t
            self._land(c)

    def finish(self) -> None:
        b = self.book
        exp = os.path.join(self.root, "expected")
        os.makedirs(exp, exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(
                [ticket_row(t, h) for t, h in sorted(b.holders.items())],
                schema=pa.schema([pa.field(n, t) for n, t in _TICKET_FIELDS]),
            ),
            os.path.join(exp, "tickets.parquet"),
        )
        pq.write_table(
            pa.Table.from_pylist(
                [person_row(p, g) for p, g in sorted(b.persons.items())],
                schema=pa.schema([pa.field(n, t) for n, t in _PERSON_FIELDS]),
            ),
            os.path.join(exp, "persons.parquet"),
        )
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip([n for n, _ in _HIST_FIELDS], h)) for h in b.hist],
                schema=pa.schema([pa.field(n, t) for n, t in _HIST_FIELDS]),
            ),
            os.path.join(exp, "hist.parquet"),
        )
        with open(os.path.join(self.root, "ledger.json"), "w") as fh:
            json.dump(self.commits, fh)


def _say(msg: str) -> None:
    sys.stdout.write(msg + "\n")
    sys.stdout.flush()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--root", required=True)
    a = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    g = Generator(a.workload, a.seed, a.seconds, a.root)
    g.prepare()
    _say("ready " + json.dumps(
        {"commits": g.commits, "warmup": g.warmup, "queries": g.queries}))
    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "tail":
            g.land_tail(float(cmd[1]))
            _say("tail-done")
        elif cmd[0] == "burst":
            g.land_burst()
            _say("burst-done")
        elif cmd[0] == "end":
            g.finish()
            _say("bye")
            return
        else:
            raise SystemExit(f"unknown command {line!r}")


if __name__ == "__main__":
    main()
