"""FlagshipViewIVM vs full batch recompute.

Emulates the reference workload (FIXTURES.md §W: generateticketactivity
ticket transfers — UPDATE sporting_event_ticket.ticketholder_id +
INSERT ticket_purchase_hist — plus occasional person INSERT/UPDATE/
DELETE) and asserts after every micro-batch that the incrementally-
maintained view equals a from-scratch recompute over source state.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from streaming_data_lake_flink_cdc_apache_hudi_spark.operators.upsert import (
    latest_by_key,
)
from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.ivm import (
    FlagshipViewIVM,
)

P_SCHEMA = (
    "id double, full_name string, last_name string, first_name string, "
    "_deleted boolean, _before_full_name string"
)
T_SCHEMA = (
    "id double, sporting_event_id double, sport_location_id double, "
    "seat_level int, seat_section string, seat_row string, seat string, "
    "ticketholder_id double, ticket_price float, "
    "_deleted boolean, _before_ticketholder_id double"
)
H_SCHEMA = (
    "sporting_event_ticket_id double, purchase_by_id double, "
    "transaction_date_time timestamp, transferred_from_id double, "
    "purchase_price float, _deleted boolean"
)


def _person(i, name, deleted=False, before_name=None):
    first, last = name.split(" ", 1)
    return (float(i), name, last, first, deleted, before_name)


def _ticket(i, holder, price, deleted=False, before_holder=None):
    return (
        float(i), 1.0, 1.0, 1, "S", "R", str(i), float(holder), price,
        deleted, None if before_holder is None else float(before_holder),
    )


def _hist(tid, buyer, ts, frm, price):
    import datetime as dt

    return (
        float(tid), float(buyer), dt.datetime.fromisoformat(ts), float(frm),
        price, False,
    )


def _recompute_view(ivm):
    """Oracle: the batch flagship join over current source state."""
    p, t, h = ivm.person.snapshot(), ivm.ticket.snapshot(), ivm.hist.snapshot()
    joined = (
        p.join(t, p["id"] == t["ticketholder_id"])
        .join(h, h["sporting_event_ticket_id"] == t["id"])
        .select(
            p["full_name"],
            t["id"].cast("string").alias("tid_str"),
            t["ticket_price"],
            h["transaction_date_time"],
            h["purchase_by_id"],
        )
    )
    return (
        latest_by_key(
            joined, "full_name",
            ["transaction_date_time", "tid_str", "purchase_by_id"],
        )
        .select(
            "full_name",
            F.col("tid_str").alias("id"),
            "ticket_price",
            F.col("transaction_date_time").cast("string").alias(
                "transaction_date_time"
            ),
        )
    )


def _assert_view_matches(ivm):
    got = sorted(map(tuple, ivm.view.snapshot().collect()))
    want = sorted(map(tuple, _recompute_view(ivm).collect()))
    assert got == want, f"IVM drifted:\n got={got[:5]}...\nwant={want[:5]}..."


def test_ivm_matches_batch_recompute(spark, tmp_path):
    rng = random.Random(42)
    ivm = FlagshipViewIVM(spark, str(tmp_path / "ivm"))

    n_persons, n_tickets = 12, 30
    holders = {t: rng.randrange(1, n_persons + 1) for t in range(1, n_tickets + 1)}

    # batch 0: initial snapshot inserts (S1 snapshot phase)
    persons = [_person(i, f"Person Num{i}") for i in range(1, n_persons + 1)]
    tickets = [
        _ticket(t, holders[t], round(10 + t * 1.5, 2)) for t in holders
    ]
    ivm.apply(
        person_delta=spark.createDataFrame(persons, P_SCHEMA),
        ticket_delta=spark.createDataFrame(tickets, T_SCHEMA),
        hist_delta=None,
        commit_id="b0",
    )
    _assert_view_matches(ivm)  # all persons childless → view empty
    assert ivm.view.snapshot().count() == 0  # inner join: no hist yet

    # batches 1..4: ticket transfers + person churn (workload §W)
    day = 1
    for b in range(1, 5):
        t_rows, h_rows, p_rows = [], [], []
        for _ in range(6):  # ≤500/min in the reference; 6 per batch here
            tid = rng.randrange(1, n_tickets + 1)
            old = holders[tid]
            new = rng.randrange(1, n_persons + 1)
            holders[tid] = new
            price = round(10 + tid * 1.5, 2)
            t_rows.append(_ticket(tid, new, price, before_holder=old))
            h_rows.append(
                _hist(tid, new, f"2024-01-{day:02d}T12:{b:02d}:00", old, price)
            )
            day += 1
        if b == 2:  # ¶40-style rename: view PK changes
            p_rows.append(
                _person(3, "Person Renamed3", before_name="Person Num3")
            )
        if b == 3:  # person delete → their view row must vanish
            p_rows.append(
                _person(5, "Person Num5", deleted=True,
                        before_name="Person Num5")
            )
        # dedup ticket rows per key within batch (last transfer wins,
        # but the before-image must stay the PRE-BATCH holder — the
        # delta contract; mid-batch intermediate holders are not valid
        # before-images)
        seen = {}
        for r in t_rows:
            if r[0] in seen:
                r = r[:-1] + (seen[r[0]][-1],)
            seen[r[0]] = r
        ivm.apply(
            person_delta=(
                spark.createDataFrame(p_rows, P_SCHEMA) if p_rows else None
            ),
            ticket_delta=spark.createDataFrame(list(seen.values()), T_SCHEMA),
            hist_delta=spark.createDataFrame(h_rows, H_SCHEMA),
            commit_id=f"b{b}",
        )
        _assert_view_matches(ivm)

    # invariant: one live row per person key (zpln:2757 ¶61)
    dups = (
        ivm.view.snapshot()
        .groupBy("full_name")
        .agg(F.count("*").alias("cnt"))
        .filter("cnt > 1")
        .count()
    )
    assert dups == 0



def _flagship_seed(spark, ivm):
    """8 persons, 16 tickets, one hist row per ticket: every person
    has a live view row."""
    persons = [_person(i, f"Person Num{i}") for i in range(1, 9)]
    tickets = [_ticket(t, (t % 8) + 1, 10.0 + t) for t in range(1, 17)]
    hist = [
        _hist(t, (t % 8) + 1, f"2024-01-01T00:{t:02d}:00", 0, 10.0 + t)
        for t in range(1, 17)
    ]
    ivm.apply(
        person_delta=spark.createDataFrame(persons, P_SCHEMA),
        ticket_delta=spark.createDataFrame(tickets, T_SCHEMA),
        hist_delta=spark.createDataFrame(hist, H_SCHEMA),
        commit_id="b0",
    )
    _assert_view_matches(ivm)
    assert ivm.view.snapshot().count() == 8


def test_ivm_failed_state_commit_replays_to_batch_recompute(
    spark, tmp_path, monkeypatch
):
    """State commits run concurrently: one table's failing write must
    surface from apply(), and replaying the batch under the same
    commit id must converge to the batch recompute without committing
    any table twice."""
    ivm = FlagshipViewIVM(spark, str(tmp_path / "ivm"))
    _flagship_seed(spark, ivm)

    real_write = ivm.ticket_by_holder.write
    calls = []

    def flaky_write(*args, **kwargs):
        calls.append(kwargs.get("commit_id"))
        if len(calls) == 1:
            raise RuntimeError("injected by-holder commit failure")
        return real_write(*args, **kwargs)

    monkeypatch.setattr(ivm.ticket_by_holder, "write", flaky_write)

    def batch():
        return dict(
            person_delta=spark.createDataFrame(
                [_person(2, "Person Moved2", before_name="Person Num2")],
                P_SCHEMA,
            ),
            ticket_delta=spark.createDataFrame(
                [_ticket(3, 1, 13.0, before_holder=4),
                 _ticket(5, 7, 15.0, before_holder=6)],
                T_SCHEMA,
            ),
            hist_delta=spark.createDataFrame(
                [_hist(3, 1, "2024-02-01T00:00:00", 4, 13.0),
                 _hist(5, 7, "2024-02-01T00:01:00", 6, 15.0)],
                H_SCHEMA,
            ),
            commit_id="b1",
        )

    with pytest.raises(RuntimeError, match="injected by-holder"):
        ivm.apply(**batch())
    # the other state tables committed; the view did not
    assert "b1-ticket" in {c["commit_id"] for c in ivm.ticket.commits()}
    assert "b1-view" not in {c["commit_id"] for c in ivm.view.commits()}

    ivm.apply(**batch())  # replay: same commit id
    assert calls == ["b1-tbh", "b1-tbh"]
    _assert_view_matches(ivm)
    names = {r["full_name"] for r in ivm.view.snapshot().collect()}
    assert "Person Moved2" in names and "Person Num2" not in names
    for t in (ivm.person, ivm.ticket, ivm.ticket_by_holder, ivm.hist, ivm.view):
        ids = [c["commit_id"] for c in t.commits() if c["kind"] == "delta"]
        assert len(ids) == len(set(ids)), f"duplicate commit in {t.path}: {ids}"
        assert "b1" in {i.split("-")[0] for i in ids}


def test_ivm_person_only_batch(spark, tmp_path):
    """A batch carrying only person changes commits one state table and
    still retracts renamed / deleted persons' view rows."""
    ivm = FlagshipViewIVM(spark, str(tmp_path / "ivm"))
    _flagship_seed(spark, ivm)
    seqs = {
        n: t.last_commit_seq()
        for n, t in (
            ("ticket", ivm.ticket),
            ("ticket_by_holder", ivm.ticket_by_holder),
            ("hist", ivm.hist),
        )
    }
    ivm.apply(
        person_delta=spark.createDataFrame(
            [
                _person(3, "Person Renamed3", before_name="Person Num3"),
                _person(5, "Person Num5", deleted=True,
                        before_name="Person Num5"),
                _person(9, "Person Num9"),  # new, holds no ticket
            ],
            P_SCHEMA,
        ),
        commit_id="b1",
    )
    _assert_view_matches(ivm)
    names = {r["full_name"] for r in ivm.view.snapshot().collect()}
    assert "Person Renamed3" in names
    assert not names & {"Person Num3", "Person Num5", "Person Num9"}
    # only person state moved; the hist -> ticket probe read nothing
    assert {n: t.last_commit_seq() for n, t in (
        ("ticket", ivm.ticket),
        ("ticket_by_holder", ivm.ticket_by_holder),
        ("hist", ivm.hist),
    )} == seqs
    assert ivm.last_read_buckets["ticket"] == []
    assert "b1-person" in {c["commit_id"] for c in ivm.person.commits()}

def _env_rows(rows):
    """rows: (op, ts, seq, before|None, after|None) with images as
    (id, cat, amt)."""
    return rows


def test_group_agg_ivm_matches_batch_aggregate(spark, tmp_path):
    """Randomized CDC history with inserts, amount updates,
    GROUP-MOVING updates, and deletes, applied in three micro-batches:
    the maintained SUM/COUNT per category must equal the batch
    aggregate of the final entity state, and emptied groups must
    disappear."""
    import random

    from streaming_data_lake_flink_cdc_apache_hudi_spark.operators.changelog import (
        current_state,
    )
    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.ivm import GroupAggIVM

    rng = random.Random(7)
    cats = ["a", "b", "c", "d"]
    state: dict[int, tuple[str, float]] = {}
    events = []
    seq = 0
    next_id = 1000
    for step in range(300):
        seq += 1
        ts = step // 3
        alive = list(state)
        act = rng.random()
        if not alive or act < 0.5:
            i = next_id
            next_id += 1
            img = (i, rng.choice(cats), round(rng.uniform(1, 9), 2))
            state[i] = img[1:]
            events.append(("I", ts, seq, None, img))
        elif act < 0.85:
            i = rng.choice(alive)
            old = (i, *state[i])
            img = (i, rng.choice(cats), round(rng.uniform(1, 9), 2))
            state[i] = img[1:]
            events.append(("U", ts, seq, old, img))
        else:
            i = rng.choice(alive)
            old = (i, *state[i])
            del state[i]
            events.append(("D", ts, seq, old, None))

    env_schema = (
        "op STRING, ts LONG, seq LONG, "
        "before STRUCT<id: LONG, cat: STRING, amt: DOUBLE>, "
        "after STRUCT<id: LONG, cat: STRING, amt: DOUBLE>"
    )
    ivm = GroupAggIVM(
        spark, str(tmp_path / "agg"), group_cols=["cat"], sum_cols=["amt"],
        num_buckets=4,
    )
    third = len(events) // 3
    for bi, lo in enumerate(range(0, len(events), third)):
        batch = spark.createDataFrame(events[lo : lo + third], env_schema)
        ivm.apply(batch, epoch_id=bi)

    got = {
        r["cat"]: (round(r["sum_amt"], 2), r["n_rows"])
        for r in ivm.view().collect()
    }
    all_env = spark.createDataFrame(events, env_schema)
    final = current_state(all_env, "id")
    want = {
        r["cat"]: (round(r["s"], 2), r["n"])
        for r in final.groupBy("cat")
        .agg(F.sum("amt").alias("s"), F.count("*").alias("n"))
        .collect()
    }
    assert got == want
    # replaying a batch must be a no-op (exactly-once by epoch id)
    ivm.apply(
        spark.createDataFrame(events[:third], env_schema), epoch_id=0
    )
    got2 = {
        r["cat"]: (round(r["sum_amt"], 2), r["n_rows"])
        for r in ivm.view().collect()
    }
    assert got2 == want


def test_group_agg_ivm_tombstones_emptied_group(spark, tmp_path):
    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.ivm import GroupAggIVM

    env_schema = (
        "op STRING, ts LONG, seq LONG, "
        "before STRUCT<id: LONG, cat: STRING, amt: DOUBLE>, "
        "after STRUCT<id: LONG, cat: STRING, amt: DOUBLE>"
    )
    ivm = GroupAggIVM(
        spark, str(tmp_path / "agg2"), group_cols=["cat"], sum_cols=["amt"],
        num_buckets=2,
    )
    ivm.apply(
        spark.createDataFrame(
            [
                ("I", 0, 1, None, (1, "x", 5.0)),
                ("I", 0, 2, None, (2, "y", 3.0)),
            ],
            env_schema,
        ),
        epoch_id=0,
    )
    # move the only x row to y: group x must vanish
    ivm.apply(
        spark.createDataFrame(
            [("U", 1, 3, (1, "x", 5.0), (1, "y", 7.0))], env_schema
        ),
        epoch_id=1,
    )
    got = {r["cat"]: (r["sum_amt"], r["n_rows"]) for r in ivm.view().collect()}
    assert got == {"y": (10.0, 2)}


def test_stream_group_agg_end_to_end_feed(spark, tmp_path):
    """Feed-dir streaming flavor: two envelope commits land in the
    feed, the running query folds both into the aggregate view."""
    from pyspark.sql import types as T

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.cdc_feed import (
        write_feed_events,
    )
    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.ivm import (
        stream_group_agg,
    )

    row_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("cat", T.StringType()),
            T.StructField("amt", T.DoubleType()),
        ]
    )
    env_schema = (
        "op STRING, ts TIMESTAMP, seq LONG, "
        "before STRUCT<id: LONG, cat: STRING, amt: DOUBLE>, "
        "after STRUCT<id: LONG, cat: STRING, amt: DOUBLE>"
    )
    import datetime as _dt

    t0 = _dt.datetime(2024, 1, 1)
    t1 = _dt.datetime(2024, 1, 1, 0, 1)
    feed = str(tmp_path / "feed")
    write_feed_events(
        spark,
        feed,
        spark.createDataFrame(
            [
                ("I", t0, 1, None, (1, "x", 2.0)),
                ("I", t0, 2, None, (2, "x", 3.0)),
                ("I", t0, 3, None, (3, "y", 4.0)),
            ],
            env_schema,
        ),
    )
    ivm, q = stream_group_agg(
        spark,
        feed,
        row_schema,
        str(tmp_path / "aggview"),
        group_cols=["cat"],
        sum_cols=["amt"],
        checkpoint_dir=str(tmp_path / "ck"),
        num_buckets=2,
    )
    try:
        q.processAllAvailable()
        got1 = {
            r["cat"]: (r["sum_amt"], r["n_rows"])
            for r in ivm.view().collect()
        }
        assert got1 == {"x": (5.0, 2), "y": (4.0, 1)}
        write_feed_events(
            spark,
            feed,
            spark.createDataFrame(
                [
                    ("U", t1, 4, (1, "x", 2.0), (1, "y", 6.0)),
                    ("D", t1, 5, (3, "y", 4.0), None),
                ],
                env_schema,
            ),
        )
        q.processAllAvailable()
        got2 = {
            r["cat"]: (r["sum_amt"], r["n_rows"])
            for r in ivm.view().collect()
        }
        assert got2 == {"x": (3.0, 1), "y": (6.0, 1)}
    finally:
        q.stop()


def test_group_agg_ivm_integer_sum_col_two_batches(spark, tmp_path):
    """Regression: an integer-typed sum_col must not flip the state
    schema between batch 1 (native sum type) and batch 2 (coalesce
    with 0.0 -> double) — measures are cast to double from the first
    commit."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.ivm import GroupAggIVM

    env_schema = (
        "op STRING, ts LONG, seq LONG, "
        "before STRUCT<id: LONG, cat: STRING, qty: LONG>, "
        "after STRUCT<id: LONG, cat: STRING, qty: LONG>"
    )
    ivm = GroupAggIVM(
        spark, str(tmp_path / "iagg"), group_cols=["cat"], sum_cols=["qty"],
        num_buckets=2,
    )
    ivm.apply(
        spark.createDataFrame(
            [("I", 0, 1, None, (1, "x", 5)), ("I", 0, 2, None, (2, "x", 3))],
            env_schema,
        ),
        epoch_id=0,
    )
    # second batch used to raise: table bigint vs delta double
    ivm.apply(
        spark.createDataFrame(
            [("U", 1, 3, (1, "x", 5), (1, "x", 9))], env_schema
        ),
        epoch_id=1,
    )
    got = {r["cat"]: (r["sum_qty"], r["n_rows"]) for r in ivm.view().collect()}
    assert got == {"x": (12.0, 2)}


def test_group_agg_ivm_minmax_survives_extremum_delete(spark, tmp_path):
    """MIN/MAX under retraction: deleting the row holding the current
    MAX (or MIN) must surface the next extremum from the value
    multiset — including duplicate values, where one of two equal
    extrema being deleted must NOT change the aggregate."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.ivm import GroupAggIVM

    env_schema = (
        "op STRING, ts LONG, seq LONG, "
        "before STRUCT<id: LONG, cat: STRING, amt: DOUBLE>, "
        "after STRUCT<id: LONG, cat: STRING, amt: DOUBLE>"
    )
    ivm = GroupAggIVM(
        spark, str(tmp_path / "mmagg"), group_cols=["cat"], sum_cols=["amt"],
        minmax_cols=["amt"], num_buckets=2,
    )
    ivm.apply(
        spark.createDataFrame(
            [
                ("I", 0, 1, None, (1, "x", 5.0)),
                ("I", 0, 2, None, (2, "x", 9.0)),
                ("I", 0, 3, None, (3, "x", 9.0)),  # duplicate max
                ("I", 0, 4, None, (4, "y", 2.0)),
            ],
            env_schema,
        ),
        epoch_id=0,
    )
    got = {r["cat"]: (r["min_amt"], r["max_amt"]) for r in ivm.view().collect()}
    assert got == {"x": (5.0, 9.0), "y": (2.0, 2.0)}
    # delete ONE of the two 9.0 rows: max must stay 9.0
    ivm.apply(
        spark.createDataFrame(
            [("D", 1, 5, (2, "x", 9.0), None)], env_schema
        ),
        epoch_id=1,
    )
    got = {r["cat"]: (r["min_amt"], r["max_amt"]) for r in ivm.view().collect()}
    assert got["x"] == (5.0, 9.0)
    # delete the last 9.0: max falls back to 5.0
    ivm.apply(
        spark.createDataFrame(
            [("D", 2, 6, (3, "x", 9.0), None)], env_schema
        ),
        epoch_id=2,
    )
    got = {r["cat"]: (r["min_amt"], r["max_amt"]) for r in ivm.view().collect()}
    assert got["x"] == (5.0, 5.0)


def test_group_agg_ivm_minmax_randomized_matches_batch(spark, tmp_path):
    """Randomized retract history (inserts, updates incl. group moves,
    deletes) in three micro-batches: maintained MIN/MAX must equal the
    batch aggregate over the final entity state — the VERDICT r4 #2
    done-condition."""
    import random

    from streaming_data_lake_flink_cdc_apache_hudi_spark.operators.changelog import (
        current_state,
    )
    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.ivm import GroupAggIVM

    rng = random.Random(11)
    cats = ["a", "b", "c"]
    # few distinct amounts -> lots of duplicate extrema + real
    # extremum deletions
    amts = [1.0, 2.0, 3.0, 5.0, 8.0]
    state: dict[int, tuple[str, float]] = {}
    events = []
    seq = 0
    next_id = 1
    for step in range(240):
        seq += 1
        alive = list(state)
        act = rng.random()
        if not alive or act < 0.45:
            i = next_id
            next_id += 1
            img = (i, rng.choice(cats), rng.choice(amts))
            state[i] = img[1:]
            events.append(("I", step, seq, None, img))
        elif act < 0.8:
            i = rng.choice(alive)
            old = (i, *state[i])
            img = (i, rng.choice(cats), rng.choice(amts))
            state[i] = img[1:]
            events.append(("U", step, seq, old, img))
        else:
            i = rng.choice(alive)
            old = (i, *state[i])
            del state[i]
            events.append(("D", step, seq, old, None))

    env_schema = (
        "op STRING, ts LONG, seq LONG, "
        "before STRUCT<id: LONG, cat: STRING, amt: DOUBLE>, "
        "after STRUCT<id: LONG, cat: STRING, amt: DOUBLE>"
    )
    ivm = GroupAggIVM(
        spark, str(tmp_path / "rmm"), group_cols=["cat"], sum_cols=["amt"],
        minmax_cols=["amt"], num_buckets=4,
    )
    third = len(events) // 3
    for bi, lo in enumerate(range(0, len(events), third)):
        batch = spark.createDataFrame(events[lo : lo + third], env_schema)
        ivm.apply(batch, epoch_id=bi)

    got = {
        r["cat"]: (round(r["sum_amt"], 2), r["n_rows"], r["min_amt"], r["max_amt"])
        for r in ivm.view().collect()
    }
    all_env = spark.createDataFrame(events, env_schema)
    final = current_state(all_env, "id")
    want = {
        r["cat"]: (round(r["s"], 2), r["n"], r["mn"], r["mx"])
        for r in final.groupBy("cat")
        .agg(
            F.sum("amt").alias("s"),
            F.count("*").alias("n"),
            F.min("amt").alias("mn"),
            F.max("amt").alias("mx"),
        )
        .collect()
    }
    assert got == want
    # exactly-once: replaying a batch (incl. value-table commits) is a no-op
    ivm.apply(spark.createDataFrame(events[:third], env_schema), epoch_id=0)
    got2 = {
        r["cat"]: (round(r["sum_amt"], 2), r["n_rows"], r["min_amt"], r["max_amt"])
        for r in ivm.view().collect()
    }
    assert got2 == want
