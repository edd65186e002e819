"""UpsertLakeTable semantics: the reference's Hudi-table behavior
(golden scenarios 1-2 + compaction + exactly-once), FIXTURES.md F4.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.upsert_sink import (
    UpsertLakeTable,
)

T1_ROWS = [
    ("id1", "Danny", 23, "1970-01-01 00:00:01"),
    ("id2", "Stephen", 33, "1970-01-01 00:00:02"),
    ("id3", "Julian", 53, "1970-01-01 00:00:03"),
    ("id4", "Fabian", 31, "1970-01-01 00:00:04"),
    ("id5", "Sophia", 18, "1970-01-01 00:00:05"),
    ("id6", "Emma", 20, "1970-01-01 00:00:06"),
    ("id7", "Grace", 19, "1970-01-01 00:00:07"),
    ("id8", "Han", 56, "1970-01-01 00:00:08"),
]
SCHEMA = "uuid string, name string, age int, ts string"


def _t1(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


@pytest.fixture
def table(spark, tmp_path):
    return UpsertLakeTable(
        spark, str(tmp_path / "t1"), key="uuid", num_buckets=4, compact_every=3
    )


def test_insert_then_scan_golden1(spark, table):
    # zpln:375 ¶9 → :463 ¶11: 8 rows in, exactly those 8 back
    table.write(_t1(spark, T1_ROWS), commit_id="seed")
    got = {tuple(r) for r in table.snapshot().select("uuid", "name", "age").collect()}
    assert got == {(u, n, a) for (u, n, a, _) in T1_ROWS}


def test_upsert_replaces_key_golden2(spark, table):
    # zpln:577 ¶13 → :665 ¶15: re-insert id1 → only the new row remains
    table.write(_t1(spark, T1_ROWS), commit_id="seed")
    table.write(
        _t1(spark, [("id1", "Francisco Morillo", 29, "2023-06-15 12:00:00")]),
        commit_id="upsert1",
    )
    snap = table.snapshot()
    assert snap.count() == 8  # still one live row per key
    id1 = snap.filter(F.col("uuid") == "id1").collect()
    assert len(id1) == 1 and id1[0]["name"] == "Francisco Morillo" and id1[0]["age"] == 29
    # no-duplicates invariant (zpln:2757 ¶61)
    dups = (
        snap.groupBy("uuid").agg(F.count("*").alias("cnt")).filter("cnt > 1").count()
    )
    assert dups == 0


def test_delete_tombstone(spark, table):
    table.write(_t1(spark, T1_ROWS), commit_id="seed")
    victim = _t1(spark, [("id3", "Julian", 53, "1970-01-01 00:00:03")]).withColumn(
        "_gone", F.lit(True)
    )
    table.write(victim, commit_id="del1", delete_col="_gone")
    snap = table.snapshot()
    assert snap.count() == 7
    assert snap.filter(F.col("uuid") == "id3").count() == 0


def test_compaction_preserves_snapshot(spark, table):
    table.write(_t1(spark, T1_ROWS), commit_id="seed")
    table.write(
        _t1(spark, [("id1", "A", 1, "1980-01-01 00:00:00")]), commit_id="c2"
    )
    # 3rd delta crosses compact_every=3 → auto-compaction folds the log
    table.write(
        _t1(spark, [("id2", "B", 2, "1981-01-01 00:00:00")]), commit_id="c3"
    )
    kinds = [c["kind"] for c in table.commits()]
    assert "compaction" in kinds
    assert not os.path.isdir(table._log)  # log truncated
    snap = {r["uuid"]: r["name"] for r in table.snapshot().collect()}
    assert snap["id1"] == "A" and snap["id2"] == "B" and len(snap) == 8
    # writes after compaction still merge correctly (base ∪ new log)
    table.write(
        _t1(spark, [("id1", "Z", 9, "1990-01-01 00:00:00")]), commit_id="c4"
    )
    assert {
        r["uuid"]: r["name"] for r in table.snapshot().collect()
    }["id1"] == "Z"


def test_replayed_commit_is_noop(spark, table):
    table.write(_t1(spark, T1_ROWS), commit_id="seed")
    seq = table.write(
        _t1(spark, [("id1", "X", 1, "2000-01-01 00:00:00")]), commit_id="epoch-7"
    )
    assert seq > 0
    # replay of the same epoch (foreachBatch retry) must not double-apply
    again = table.write(
        _t1(spark, [("id1", "Y", 2, "2000-01-01 00:00:00")]), commit_id="epoch-7"
    )
    assert again == 0
    assert table.snapshot().filter("uuid = 'id1'").collect()[0]["name"] == "X"


def test_meta_columns(spark, table):
    # ≙ the 5 _hoodie_* metadata columns (lib/rds-cdc-flink-hudi-stack.ts:470-489):
    # commit time, per-record seqno, record key, partition path, file name
    table.write(_t1(spark, T1_ROWS), commit_id="seed")
    meta = table.snapshot(with_meta=True)
    for c in (
        "_record_key",
        "_commit_seq",
        "_commit_seqno",
        "_commit_time",
        "_op",
        "_partition_path",
        "_file_name",
    ):
        assert c in meta.columns
    row = meta.filter("uuid = 'id5'").collect()[0]
    assert row["_record_key"] == "id5" and row["_commit_seq"] == 1
    assert row["_commit_seqno"].startswith("1_")
    assert row["_partition_path"].startswith("bucket=")
    assert row["_file_name"].endswith(".parquet")
    # seqno is unique per record within the commit
    n = meta.count()
    assert meta.select("_commit_seqno").distinct().count() == n


def test_incremental_read_chains_to_snapshot(spark, tmp_path):
    """Hudi-style incremental query type: rows changed after commit N,
    with delete markers — applying the increment to a copy of the old
    state must reproduce the current snapshot (chained pipelines).
    compact_every is kept above the commit count: like Hudi, incremental
    visibility (delete markers especially) is bounded by compaction."""
    table = UpsertLakeTable(
        spark, str(tmp_path / "t1"), key="uuid", num_buckets=4, compact_every=10
    )
    table.write(_t1(spark, T1_ROWS), commit_id="seed")  # commit 1
    table.write(
        _t1(spark, [("id1", "New Name", 30, "2024-01-01 00:00:00")]),
        commit_id="c2",
    )
    victim = _t1(spark, [("id3", "Julian", 53, "1970-01-01 00:00:03")]).withColumn(
        "_gone", F.lit(True)
    )
    table.write(victim, commit_id="c3", delete_col="_gone")

    inc = table.incremental(since_seq=1)
    got = {r["uuid"]: r["_op"] for r in inc.collect()}
    assert got == {"id1": "U", "id3": "D"}  # changed keys only, ops visible
    assert inc.filter("uuid = 'id1'").collect()[0]["name"] == "New Name"

    # chain: old snapshot (as of commit 1) + increment == current snapshot
    mirror = UpsertLakeTable(spark, str(tmp_path / "mirror"), key="uuid")
    mirror.write(_t1(spark, T1_ROWS), commit_id="m1")
    delta = inc.withColumn("_del", F.col("_op") == "D").select(
        "uuid", "name", "age", "ts", "_del"
    )
    mirror.write(delta, commit_id="m2", delete_col="_del")
    cur = sorted(map(tuple, table.snapshot().collect()))
    chained = sorted(map(tuple, mirror.snapshot().collect()))
    assert cur == chained

    # nothing changed after the latest commit → empty increment
    assert table.incremental(since_seq=table.last_commit_seq()).count() == 0


def test_crashed_write_orphan_is_invisible(spark, table):
    """Data files without a commit marker (a writer crashed between
    the parquet write and the marker record) must be INVISIBLE to
    snapshots, and the next write must reclaim the orphan's seq
    without mixing rows from two attempts."""
    import shutil

    table.write(_t1(spark, T1_ROWS), commit_id="c1")
    before = sorted(map(tuple, table.snapshot().collect()))
    # simulate the crash: seq-2 data exists, marker was never written
    shutil.copytree(
        os.path.join(table._log, "commit=1"),
        os.path.join(table._log, "commit=2"),
    )
    assert sorted(map(tuple, table.snapshot().collect())) == before
    # the next writer (lease-held) reclaims seq 2: orphan rows are
    # cleaned, only the new commit's rows appear
    table.write(
        _t1(spark, [("id9", "Ida", 44, "2024-01-01 00:00:00")]), commit_id="c2"
    )
    snap = table.snapshot()
    assert snap.count() == 9
    assert snap.filter("uuid = 'id9'").count() == 1
    dups = (
        snap.groupBy("uuid").agg(F.count("*").alias("c")).filter("c > 1").count()
    )
    assert dups == 0


def test_read_optimized_serves_compacted_state(spark, tmp_path):
    """Hudi read-optimized query parity: base files only — the state as
    of the last compaction, ignoring newer log deltas."""
    t = UpsertLakeTable(
        spark, str(tmp_path / "ro"), key="uuid", num_buckets=4, compact_every=2
    )
    t.write(_t1(spark, T1_ROWS), commit_id="c1")
    t.write(  # 2nd delta triggers compaction (compact_every=2)
        _t1(spark, [("id1", "New Name", 30, "2024-01-01 00:00:00")]),
        commit_id="c2",
    )
    t.write(  # post-compaction delta, log only
        _t1(spark, [("id3", "Julian", 53, "1970-01-01 00:00:03")]).withColumn(
            "_del", F.lit(True)
        ),
        commit_id="c3",
        delete_col="_del",
    )
    assert t.snapshot().count() == 7  # id3 deleted in snapshot view
    ro = {
        tuple(r)
        for r in t.read_optimized().select("uuid", "name", "age").collect()
    }
    assert ("id3", "Julian", 53) in ro  # RO ignores the uncompacted delete
    assert ("id1", "New Name", 30) in ro  # ...but serves compacted upserts
    assert len(ro) == 8


def test_cdc_changes_insert_update_delete(spark, tmp_path):
    """CDC-format read: before/after images per changed key. (Own
    table, high compact_every: compaction legitimately collapses
    change history, which is not what's under test here.)"""
    table = UpsertLakeTable(
        spark, str(tmp_path / "cdc"), key="uuid", num_buckets=4, compact_every=20
    )
    table.write(_t1(spark, T1_ROWS), commit_id="c1")
    table.write(
        _t1(
            spark,
            [
                ("id1", "New Name", 30, "2024-01-01 00:00:00"),
                ("id9", "Ida", 44, "2024-01-01 00:00:00"),
            ],
        ),
        commit_id="c2",
    )
    table.write(
        _t1(spark, [("id3", "Julian", 53, "1970-01-01 00:00:03")]).withColumn(
            "_del", F.lit(True)
        ),
        commit_id="c3",
        delete_col="_del",
    )
    ch = table.changes(since_seq=1)
    got = {
        r["uuid"]: (
            r["_change_type"],
            r["name"],
            r["_before"]["name"] if r["_before"] is not None else None,
        )
        for r in ch.collect()
    }
    assert got == {
        "id1": ("update", "New Name", "Danny"),
        "id9": ("insert", "Ida", None),
        "id3": ("delete", None, "Julian"),
    }
    # bounded range: only c2's changes
    assert {
        r["uuid"]: r["_change_type"]
        for r in table.changes(since_seq=1, end_seq=2).collect()
    } == {"id1": "update", "id9": "insert"}
    # key inserted AND deleted within the range nets to nothing
    table.write(
        _t1(spark, [("id10", "Tmp", 1, "2024-01-01 00:00:00")]), commit_id="c4"
    )
    table.write(
        _t1(spark, [("id10", "Tmp", 1, "2024-01-01 00:00:00")]).withColumn(
            "_del", F.lit(True)
        ),
        commit_id="c5",
        delete_col="_del",
    )
    assert table.changes(since_seq=3).count() == 0


def test_compaction_clusters_by_key(spark, tmp_path):
    """Hudi-clustering parity: compaction key-sorts within each bucket
    file so parquet row-group min/max stats on the key are tight (a
    keyed read skips row groups instead of scanning the bucket)."""
    import glob

    import pyarrow.parquet as pq

    t = UpsertLakeTable(
        spark, str(tmp_path / "cl"), key="uuid", num_buckets=2, compact_every=1
    )
    rows = [(f"id{i:03d}", f"n{i}", i, "2024-01-01 00:00:00") for i in range(200)]
    t.write(_t1(spark, rows), commit_id="c1")  # compacts immediately
    files = glob.glob(str(tmp_path / "cl" / "base" / "bucket=*" / "*.parquet"))
    assert files
    for f in files:
        keys = pq.read_table(f, columns=["uuid"])["uuid"].to_pylist()
        assert keys == sorted(keys), f"bucket file not key-sorted: {f}"
    assert t.snapshot().count() == 200


def test_schema_evolution_add_and_omit_columns(spark, tmp_path):
    """Hudi-style schema evolution: an evolve_schema write may add new
    columns (old rows read NULL) or omit non-key columns (its rows
    carry NULL); plain writes still hard-reject mismatches; type
    changes and key drops are always rejected."""
    t = UpsertLakeTable(
        spark, str(tmp_path / "ev"), key="uuid", num_buckets=4, compact_every=3
    )
    t.write(_t1(spark, T1_ROWS), commit_id="c1")
    widened = _t1(
        spark, [("id1", "New Name", 30, "2024-01-01 00:00:00")]
    ).withColumn("email", F.lit("new@x.io"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.write(widened, commit_id="c2")
    t.write(widened, commit_id="c2", evolve_schema=True)
    snap = t.snapshot()
    assert "email" in snap.columns
    got = {r["uuid"]: r["email"] for r in snap.collect()}
    assert got["id1"] == "new@x.io"
    assert got["id2"] is None  # pre-evolution rows read the column as NULL
    # an old-schema writer may keep writing (column omitted -> NULL)
    t.write(
        _t1(spark, [("id2", "Stephen II", 34, "2024-02-01 00:00:00")]),
        commit_id="c3",
        evolve_schema=True,
    )
    # c3 was the 3rd delta -> compaction ran; evolution must survive it
    snap = t.snapshot()
    got = {r["uuid"]: (r["name"], r["email"]) for r in snap.collect()}
    assert got["id2"] == ("Stephen II", None)
    assert got["id1"] == ("New Name", "new@x.io")
    assert snap.count() == 8
    # type change rejected even with evolve_schema
    retyped = _t1(spark, [("id4", "Fabian", 31, "2024-01-01 00:00:00")]).withColumn(
        "email", F.lit(7)
    )
    with pytest.raises(ValueError, match="type"):
        t.write(retyped, commit_id="c4", evolve_schema=True)


def test_restore_rolls_back_commits(spark, tmp_path):
    """Savepoint/restore parity: restore(N) removes later deltas; the
    seq continues from N; restore across a compaction refuses."""
    t = UpsertLakeTable(
        spark, str(tmp_path / "rs"), key="uuid", num_buckets=4, compact_every=10
    )
    t.write(_t1(spark, T1_ROWS), commit_id="c1")
    want = sorted(map(tuple, t.snapshot().collect()))
    t.write(
        _t1(spark, [("id1", "New Name", 30, "2024-01-01 00:00:00")]),
        commit_id="c2",
    )
    t.write(
        _t1(spark, [("id3", "Julian", 53, "1970-01-01 00:00:03")]).withColumn(
            "_del", F.lit(True)
        ),
        commit_id="c3",
        delete_col="_del",
    )
    t.restore(to_seq=1)
    assert t.last_commit_seq() == 1
    assert sorted(map(tuple, t.snapshot().collect())) == want
    # writes continue from the restored seq; the rolled-back commit_id
    # is forgotten (it can be legitimately re-applied)
    seq = t.write(
        _t1(spark, [("id9", "Ida", 44, "2024-01-01 00:00:00")]), commit_id="c2"
    )
    assert seq == 2
    assert t.snapshot().count() == 9
    # compaction blocks restore past it
    t2 = UpsertLakeTable(
        spark, str(tmp_path / "rs2"), key="uuid", num_buckets=4, compact_every=2
    )
    t2.write(_t1(spark, T1_ROWS), commit_id="c1")
    t2.write(
        _t1(spark, [("id1", "New Name", 30, "2024-01-01 00:00:00")]),
        commit_id="c2",
    )  # triggers compaction at seq 3
    with pytest.raises(ValueError, match="compaction"):
        t2.restore(to_seq=1)


def test_time_travel_snapshot(spark, tmp_path):
    """snapshot(as_of_seq=N) reads the table as of commit N (Hudi
    point-in-time query); history visibility is compaction-bounded."""
    table = UpsertLakeTable(
        spark, str(tmp_path / "t1"), key="uuid", num_buckets=4, compact_every=10
    )
    table.write(_t1(spark, T1_ROWS), commit_id="c1")
    table.write(
        _t1(spark, [("id1", "New Name", 30, "2024-01-01 00:00:00")]),
        commit_id="c2",
    )
    victim = _t1(spark, [("id3", "Julian", 53, "1970-01-01 00:00:03")]).withColumn(
        "_gone", F.lit(True)
    )
    table.write(victim, commit_id="c3", delete_col="_gone")

    as_of_1 = {r["uuid"]: r["name"] for r in table.snapshot(as_of_seq=1).collect()}
    assert as_of_1["id1"] == "Danny" and len(as_of_1) == 8
    as_of_2 = {r["uuid"]: r["name"] for r in table.snapshot(as_of_seq=2).collect()}
    assert as_of_2["id1"] == "New Name" and "id3" in as_of_2 and len(as_of_2) == 8
    now = {r["uuid"]: r["name"] for r in table.snapshot().collect()}
    assert "id3" not in now and len(now) == 7


def test_timeline_archiving_bounds_active_markers(spark, tmp_path):
    """≙ Hudi timeline archiving: old markers fold into one archive
    file; exactly-once replay detection still sees archived ids and
    commits() returns the full history."""
    table = UpsertLakeTable(
        spark,
        str(tmp_path / "t1"),
        key="uuid",
        num_buckets=2,
        compact_every=3,
        archive_after=4,
    )
    for i in range(12):
        table.write(
            _t1(spark, [("id1", f"n{i}", i, "2024-01-01 00:00:00")]),
            commit_id=f"c{i}",
        )
    kinds = [c["kind"] for c in table.commits()]
    assert kinds.count("delta") == 12 and "compaction" in kinds  # full history
    active = table._commit_files()
    assert len(active) <= 8, f"active timeline not bounded: {len(active)}"
    assert os.path.exists(os.path.join(table._commits, "archive.json"))
    # replaying an ARCHIVED commit id is still a no-op
    assert (
        table.write(
            _t1(spark, [("id1", "dup", 99, "2024-01-01 00:00:00")]),
            commit_id="c0",
        )
        == 0
    )
    assert table.snapshot().filter("uuid = 'id1'").collect()[0]["name"] == "n11"


def test_single_writer_lease(spark, table, tmp_path):
    """Two live writers on one table must not interleave commits: the
    second gets ConcurrentWriterError while the lease is held; an
    expired lease (crashed writer) is broken and the write proceeds."""
    import json
    import time

    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.upsert_sink import (
        ConcurrentWriterError,
    )

    table.write(_t1(spark, T1_ROWS), commit_id="seed")
    assert not os.path.exists(table._lease_path)  # released after write

    # a live foreign writer holds the lease -> refuse
    with open(table._lease_path, "w") as fh:
        json.dump({"owner": "other-writer", "expires": time.time() + 300}, fh)
    with pytest.raises(ConcurrentWriterError, match="other-writer"):
        table.write(
            _t1(spark, [("id1", "X", 1, "2000-01-01 00:00:00")]), commit_id="c2"
        )

    # a crashed writer's expired lease is broken and the write proceeds
    with open(table._lease_path, "w") as fh:
        json.dump({"owner": "dead-writer", "expires": time.time() - 1}, fh)
    seq = table.write(
        _t1(spark, [("id1", "X", 1, "2000-01-01 00:00:00")]), commit_id="c2"
    )
    assert seq == 2
    assert not os.path.exists(table._lease_path)


def test_write_rejects_schema_mismatch(spark, table):
    # ≙ ¶52: "the schema of the query has to match the Hudi Table
    # Definition" — validated on write, not silently coerced
    table.write(_t1(spark, T1_ROWS), commit_id="seed")
    bad = spark.createDataFrame(
        [("id1", 1.5)], "uuid string, wrong double"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        table.write(bad, commit_id="badc")


def test_lake_random_walk_matches_dict_model(spark, tmp_path):
    """Model-based test: a seeded random walk of writes / deletes /
    compactions / restores over the lake table must always agree with
    a plain dict replaying the same operations. Covers interleavings
    no golden scenario pins (delete-then-reinsert around compaction,
    restore past several deltas, duplicate in-batch keys resolved by
    precombine)."""
    import random

    rng = random.Random(99)
    t = UpsertLakeTable(
        spark, str(tmp_path / "walk"), key="uuid", num_buckets=4,
        compact_every=1000,  # manual compaction only
    )
    model: dict[str, tuple] = {}
    history: list[dict] = []  # model snapshot per commit seq (1-based)
    keys = [f"k{i}" for i in range(8)]

    def check():
        got = {
            r["uuid"]: (r["name"], r["age"])
            for r in t.snapshot().collect()
        }
        want = {k: (n, a) for k, (n, a) in model.items()}
        assert got == want

    for step in range(30):
        op = rng.choices(
            ["write", "delete", "compact", "restore"], [6, 3, 1, 1]
        )[0]
        if op == "write":
            batch = {
                rng.choice(keys): (f"n{step}_{j}", rng.randrange(100))
                for j in range(rng.randrange(1, 4))
            }
            rows = [
                (k, n, a, "2024-01-01 00:00:00") for k, (n, a) in batch.items()
            ]
            t.write(_t1(spark, rows), commit_id=f"s{step}")
            model.update(batch)
            history.append(dict(model))
        elif op == "delete":
            k = rng.choice(keys)
            rows = [(k, "x", 0, "2024-01-01 00:00:00")]
            t.write(
                _t1(spark, rows).withColumn("_d", F.lit(True)),
                commit_id=f"s{step}",
                delete_col="_d",
            )
            model.pop(k, None)
            history.append(dict(model))
        elif op == "compact":
            seq = t.compact()
            if seq:
                history.append(dict(model))  # compaction takes a seq slot
        else:  # restore to a random earlier commit (if legal: no
            # compaction after it — tracked by trying and catching)
            if len(history) > 1:
                target = rng.randrange(1, len(history))
                try:
                    t.restore(to_seq=target)
                except ValueError:
                    continue  # crossed a compaction — legal refusal
                model = dict(history[target - 1])
                history = history[:target]
        if step % 5 == 0:
            check()
    check()
    assert t.last_commit_seq() == len(history)


def test_compaction_state_ttl_expires_old_rows(spark, tmp_path):
    """The optional state-TTL knob (SURVEY §7): compaction with an
    explicit event-time horizon drops rows older than the horizon in
    the buckets it rewrites; fresh rows and later updates survive.
    Unbounded retention stays the default (no-knob compaction keeps
    everything)."""
    import datetime as dt

    t = UpsertLakeTable(
        spark, str(tmp_path / "ttl"), key="uuid", num_buckets=2,
        compact_every=100,
    )
    t.write(_t1(spark, T1_ROWS), commit_id="seed")
    # id1 gets a FRESH update — TTL must judge the surviving version
    t.write(
        _t1(spark, [("id1", "Mary2", 25, "1970-01-01 01:00:00")]),
        commit_id="refresh",
    )
    horizon = dt.datetime(1970, 1, 1, 0, 0, 5)  # ids 1-4 stale, 5-8 fresh
    t.compact(expire_col="ts", expire_before=horizon)
    kept = sorted(
        r["uuid"] for r in t.snapshot().select("uuid").collect()
    )
    # id1 survives via its fresh update; id2-4 expired; id5-8 in horizon
    assert kept == ["id1", "id5", "id6", "id7", "id8"]
    assert (
        t.snapshot().filter(F.col("uuid") == "id1").collect()[0]["name"]
        == "Mary2"
    )

    # default compaction (no knob) retains everything
    t2 = UpsertLakeTable(
        spark, str(tmp_path / "nottl"), key="uuid", num_buckets=2,
        compact_every=100,
    )
    t2.write(_t1(spark, T1_ROWS), commit_id="seed")
    t2.compact()
    assert t2.snapshot().count() == len(T1_ROWS)


def test_compaction_crash_rolls_back_cleanly(spark, tmp_path):
    """Crash mid-swap (old buckets in trash, marker NOT recorded):
    every entry point self-heals back to the exact pre-compaction
    state — no lost rows, log intact."""
    import os
    import shutil

    t = UpsertLakeTable(
        spark, str(tmp_path / "c1"), key="uuid", num_buckets=2,
        compact_every=100,
    )
    t.write(_t1(spark, T1_ROWS), commit_id="seed")
    t.compact()  # materialize the base the crashed swap will touch
    t.write(
        _t1(spark, [("id1", "Mary2", 25, "1970-01-01 01:00:00")]),
        commit_id="delta2",
    )
    before = {tuple(r) for r in t.snapshot().select("uuid", "name").collect()}

    # simulate the crash window: buckets renamed into a trash dir
    # tagged with the NEXT seq, marker never recorded, base emptied
    seq = t.last_commit_seq() + 1
    trash = os.path.join(t.path, f"_compact_trash_seq={seq}")
    os.makedirs(trash)
    base = os.path.join(t.path, "base")
    for b in os.listdir(base):
        if b.startswith("bucket="):
            shutil.move(os.path.join(base, b), os.path.join(trash, b))

    got = {tuple(r) for r in t.snapshot().select("uuid", "name").collect()}
    assert got == before
    assert not os.path.exists(trash)
    # and the table keeps working: a new write + real compaction
    t.write(
        _t1(spark, [("id9", "Iris", 30, "1970-01-01 00:00:09")]),
        commit_id="post-crash",
    )
    t.compact()
    assert t.snapshot().count() == len(T1_ROWS) + 1


def test_compaction_crash_after_marker_finishes_cleanup(spark, tmp_path):
    """Crash AFTER the compaction marker (trash + possibly the log
    left behind): recovery discards the trash; a leftover log is
    harmless because re-merging folded commits is idempotent."""
    import os

    t = UpsertLakeTable(
        spark, str(tmp_path / "c2"), key="uuid", num_buckets=2,
        compact_every=100,
    )
    t.write(_t1(spark, T1_ROWS), commit_id="seed")
    t.compact()
    after = {tuple(r) for r in t.snapshot().select("uuid", "name").collect()}

    # simulate: a trash dir whose seq is <= the recorded compaction
    trash = os.path.join(t.path, f"_compact_trash_seq={t.last_commit_seq()}")
    os.makedirs(trash)
    os.makedirs(os.path.join(trash, "bucket=0"))

    got = {tuple(r) for r in t.snapshot().select("uuid", "name").collect()}
    assert got == after
    assert not os.path.exists(trash)


def test_restore_crash_leaves_consistent_timeline(spark, tmp_path):
    """restore() removes markers before data dirs (newest first): a
    crash mid-restore leaves orphan commit dirs that readers already
    ignore — never a marker whose data is gone. Simulated: marker for
    the newest commit removed, its data dir left behind."""
    import os

    t = UpsertLakeTable(
        spark, str(tmp_path / "r1"), key="uuid", num_buckets=2,
        compact_every=100,
    )
    t.write(_t1(spark, T1_ROWS), commit_id="seed")
    t.write(
        _t1(spark, [("id1", "Mary2", 25, "1970-01-01 01:00:00")]),
        commit_id="second",
    )
    seq2 = t.last_commit_seq()
    # crash simulation: marker gone, commit dir still on disk
    os.remove(os.path.join(t.path, "_commits", f"commit-{seq2:012d}.json"))
    assert os.path.isdir(os.path.join(t.path, "log", f"commit={seq2}"))
    # readers see the pre-second state (orphan dir invisible)
    assert (
        t.snapshot().filter(F.col("uuid") == "id1").collect()[0]["name"]
        == "Danny"
    )
    # re-running restore completes the cleanup
    t.restore(to_seq=seq2 - 1)
    assert not os.path.isdir(os.path.join(t.path, "log", f"commit={seq2}"))
    # the table remains writable and the seq is reclaimed
    t.write(
        _t1(spark, [("id2", "Nikki2", 20, "1970-01-01 01:00:02")]),
        commit_id="after-restore",
    )
    assert t.last_commit_seq() == seq2


def test_archive_crash_never_duplicates_timeline(spark, tmp_path):
    """Crash between the archive write and the archived markers'
    removal leaves a commit in BOTH places: commits() must dedupe by
    seq, and the next archive fold must not double the entry."""
    import json
    import os

    t = UpsertLakeTable(
        spark, str(tmp_path / "a1"), key="uuid", num_buckets=2,
        compact_every=2, archive_after=3,
    )
    for i in range(6):  # several deltas; compactions every 2nd write
        t.write(
            _t1(spark, [("id1", f"v{i}", i, f"1970-01-01 00:00:0{i + 1}")]),
            commit_id=f"w{i}",
        )
    seqs = [c["seq"] for c in t.commits()]
    assert seqs == sorted(set(seqs)), "timeline must be seq-unique"
    n_before = len(seqs)

    # crash simulation: copy an archived entry back as an active marker
    arch = json.load(open(os.path.join(t.path, "_commits", "archive.json")))
    assert arch, "archive must have folded something"
    m = arch[0]
    with open(
        os.path.join(t.path, "_commits", f"commit-{m['seq']:012d}.json"), "w"
    ) as fh:
        json.dump(m, fh)

    seqs2 = [c["seq"] for c in t.commits()]
    assert seqs2 == sorted(set(seqs2)) and len(seqs2) == n_before
    # further writes (and any re-archiving they trigger) stay clean
    t.write(
        _t1(spark, [("id2", "x", 1, "1970-01-01 00:01:00")]),
        commit_id="post",
    )
    seqs3 = [c["seq"] for c in t.commits()]
    assert seqs3 == sorted(set(seqs3)) == sorted(seqs3)


# --- async compaction (≙ compaction.async.enabled, zpln:2234 ¶51) ---------


def test_async_mode_commit_is_delta_only(spark, tmp_path, monkeypatch):
    # the write that crosses compact_every must COMMIT without folding
    # the log (no inline bucket rewrite on the commit path); the fold is
    # requested from a background compactor instead
    t = UpsertLakeTable(
        spark, str(tmp_path / "t"), key="uuid", num_buckets=4,
        compact_every=2, compaction_mode="async",
    )
    spawned = []
    monkeypatch.setattr(t, "_spawn_compactor", lambda: spawned.append(1))
    t.write(_t1(spark, T1_ROWS), commit_id="c1")
    t.write(
        _t1(spark, [("id1", "Upd", 24, "2024-01-01 00:00:00")]),
        commit_id="c2",
    )
    kinds = [c["kind"] for c in t.commits()]
    assert kinds == ["delta", "delta"]  # threshold write stayed delta-only
    assert spawned == [1]  # ...and handed the fold to the compactor
    assert len(t._log_buckets()) > 0  # log not rewritten synchronously
    # the deferred fold produces the same table the inline mode would
    assert t.maybe_compact() > 0
    assert [c["kind"] for c in t.commits()][-1] == "compaction"
    assert t._log_buckets() == []
    snap = {r["uuid"]: r["name"] for r in t.snapshot().collect()}
    assert len(snap) == 8 and snap["id1"] == "Upd"


def test_async_compactor_thread_end_to_end(spark, tmp_path):
    t = UpsertLakeTable(
        spark, str(tmp_path / "t"), key="uuid", num_buckets=4,
        compact_every=2, compaction_mode="async",
    )
    t.write(_t1(spark, T1_ROWS), commit_id="c1")
    t.write(
        _t1(spark, [("id2", "Upd2", 34, "2024-01-01 00:00:00")]),
        commit_id="c2",
    )
    t.wait_for_compaction(timeout=120.0)
    assert any(c["kind"] == "compaction" for c in t.commits())
    assert t._log_buckets() == []
    snap = {r["uuid"]: r["name"] for r in t.snapshot().collect()}
    assert len(snap) == 8 and snap["id2"] == "Upd2"
    # next write starts a fresh delta epoch on the compacted base
    t.write(
        _t1(spark, [("id9", "New", 40, "2024-01-02 00:00:00")]),
        commit_id="c3",
    )
    assert t.snapshot().count() == 9


def test_maybe_compact_below_threshold_is_noop(spark, tmp_path):
    t = UpsertLakeTable(
        spark, str(tmp_path / "t"), key="uuid", num_buckets=4,
        compact_every=5, compaction_mode="async",
    )
    t.write(_t1(spark, T1_ROWS), commit_id="c1")
    assert t.maybe_compact() == 0
    assert [c["kind"] for c in t.commits()] == ["delta"]


def _file_ranges(base_dir, cols):
    """Per-parquet-file (min, max) of each column, via footer stats."""
    import glob

    import pyarrow.parquet as pq

    out = {c: [] for c in cols}
    for f in glob.glob(os.path.join(base_dir, "**", "*.parquet"), recursive=True):
        md = pq.read_metadata(f)
        schema_names = md.schema.to_arrow_schema().names
        mn = {c: None for c in cols}
        mx = {c: None for c in cols}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name in cols and col.statistics is not None:
                    s = col.statistics
                    mn[name] = s.min if mn[name] is None else min(mn[name], s.min)
                    mx[name] = s.max if mx[name] is None else max(mx[name], s.max)
        for c in cols:
            if mn[c] is not None:
                out[c].append((mn[c], mx[c]))
    return out


def _avg_range_frac(ranges, domain):
    return sum(mx - mn for mn, mx in ranges) / (len(ranges) * domain)


def test_zorder_compaction_tightens_stats_on_both_columns(spark, tmp_path):
    """cluster_by z-order layout: after compaction, parquet file
    min/max stats are tight on BOTH clustered columns (a filter on
    either prunes most files), where the default key sort only helps
    the leading key. Snapshot content must be identical either way."""
    import random

    rng = random.Random(5)
    rows = [(i, rng.randrange(1000), rng.randrange(1000)) for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, x long, y long")

    def build(path, **compact_kw):
        t = UpsertLakeTable(spark, str(path), key="id", num_buckets=1,
                            compact_every=10**9)
        t.write(df, commit_id="c1")
        t.compact(**compact_kw)
        return t

    plain = build(tmp_path / "plain", target_file_rows=500)
    zord = build(tmp_path / "zord", cluster_by=["x", "y"], target_file_rows=500)

    # correctness: identical table content under either layout
    a = sorted(tuple(r) for r in plain.snapshot().select("id", "x", "y").collect())
    b = sorted(tuple(r) for r in zord.snapshot().select("id", "x", "y").collect())
    assert a == b and len(a) == 4000

    pr = _file_ranges(os.path.join(str(tmp_path / "plain"), "base"), ["x", "y"])
    zr = _file_ranges(os.path.join(str(tmp_path / "zord"), "base"), ["x", "y"])
    assert len(zr["x"]) >= 4, "expected multiple files (target_file_rows)"
    # key-sorted layout: x and y are unsorted within files -> each file
    # spans ~the whole domain on both
    assert _avg_range_frac(pr["x"], 1000) > 0.9
    assert _avg_range_frac(pr["y"], 1000) > 0.9
    # z-order: both columns' per-file spans shrink materially
    assert _avg_range_frac(zr["x"], 1000) < 0.62, _avg_range_frac(zr["x"], 1000)
    assert _avg_range_frac(zr["y"], 1000) < 0.62, _avg_range_frac(zr["y"], 1000)


def test_storage_stats_tracks_log_growth_and_compaction(spark, tmp_path):
    """storage_stats must show log debt accumulating across delta
    commits and returning to zero (log folded into base) after
    compaction — the operational signal a table operator watches."""
    t = UpsertLakeTable(
        spark, str(tmp_path / "t"), key="k", num_buckets=2, compact_every=100
    )
    rows = spark.createDataFrame(
        [(i, f"v{i}", i) for i in range(50)], "k LONG, v STRING, ts LONG"
    )
    t.write(rows, commit_id="c1")
    s1 = t.storage_stats()
    assert s1["log_files"] > 0 and s1["log_bytes"] > 0
    assert s1["delta_commits_since_compaction"] == 1
    t.write(
        spark.createDataFrame([(1, "x", 99)], "k LONG, v STRING, ts LONG"),
        commit_id="c2",
    )
    s2 = t.storage_stats()
    assert s2["delta_commits_since_compaction"] == 2
    assert s2["log_files"] > s1["log_files"]
    t.compact()
    s3 = t.storage_stats()
    assert s3["delta_commits_since_compaction"] == 0
    assert s3["log_files"] == 0 and s3["base_files"] > 0
    assert sum(s3["base_bytes_per_bucket"].values()) == s3["base_bytes"]
    assert s3["last_commit_seq"] >= 3  # two deltas + the compaction


def test_check_constraints_gate_commits(spark, tmp_path):
    """Delta-CHECK/Hudi-pre-commit-validator parity: a violating delta
    is refused atomically (no commit recorded, state unchanged), NULL
    predicate results pass (SQL CHECK semantics), and delete
    tombstones are exempt."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.upsert_sink import (
        CheckConstraintViolation,
        UpsertLakeTable,
    )

    t = UpsertLakeTable(
        spark,
        str(tmp_path / "ck"),
        key="id",
        num_buckets=2,
        check_constraints={
            "positive_price": "price > 0",
            "holder_set": "length(holder) > 0",
        },
    )
    ok = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", None)],  # NULL price passes (UNKNOWN)
        "id INT, holder STRING, price DOUBLE",
    )
    assert t.write(ok, commit_id="c1") == 1
    bad = spark.createDataFrame(
        [(3, "carol", -5.0), (4, "", 2.0)],
        "id INT, holder STRING, price DOUBLE",
    )
    with pytest.raises(CheckConstraintViolation) as exc:
        t.write(bad, commit_id="c2")
    assert "positive_price" in str(exc.value) and "holder_set" in str(exc.value)
    # atomic refusal: nothing landed, seq unchanged, replay-safe
    assert t.last_commit_seq() == 1
    assert {r["id"] for r in t.snapshot().collect()} == {1, 2}
    # deletes are exempt even when the tombstone image violates
    delete = spark.createDataFrame(
        [(1, "alice", -999.0, True)],
        "id INT, holder STRING, price DOUBLE, _del BOOLEAN",
    )
    assert t.write(delete, commit_id="c3", delete_col="_del") == 2
    assert {r["id"] for r in t.snapshot().collect()} == {2}


def test_fsck_finds_and_repairs_orphan_commit_dirs(spark, tmp_path):
    """A crashed write leaves an unrecorded log/commit=N dir: fsck
    reports it, repair removes it, live data untouched."""
    import os
    import shutil as _sh

    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.upsert_sink import (
        UpsertLakeTable,
    )

    t = UpsertLakeTable(spark, str(tmp_path / "fsck"), key="id", num_buckets=2)
    t.write(
        spark.createDataFrame([(1, "a")], "id INT, v STRING"), commit_id="c1"
    )
    assert t.fsck() == {
        "orphan_commit_dirs": [], "scratch_dirs": [], "removed": 0
    }
    # fake a crashed write: copy the committed dir to seq 99 (never recorded)
    src = os.path.join(str(tmp_path / "fsck"), "log", "commit=1")
    orphan = os.path.join(str(tmp_path / "fsck"), "log", "commit=99")
    _sh.copytree(src, orphan)
    rep = t.fsck()
    assert rep["orphan_commit_dirs"] == [orphan] and rep["removed"] == 0
    rep = t.fsck(repair=True)
    assert rep["removed"] == 1 and not os.path.isdir(orphan)
    assert {r["id"] for r in t.snapshot().collect()} == {1}


def test_sync_incremental_chains_tables_exactly_once(spark, tmp_path):
    """Medallion hop: dst follows src through inserts, updates and
    deletes via delta-proportional incremental reads; replays dedup;
    a transform reshapes the payload."""
    from pyspark.sql import functions as F2

    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.pipeline import (
        sync_incremental,
    )
    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.upsert_sink import (
        UpsertLakeTable,
    )

    src = UpsertLakeTable(
        spark, str(tmp_path / "silver"), key="id", num_buckets=2,
        compact_every=100,
    )
    dst = UpsertLakeTable(
        spark, str(tmp_path / "gold"), key="id", num_buckets=2,
        compact_every=100,
    )
    src.write(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "id INT, v STRING, price DOUBLE"
        ),
        commit_id="s1",
    )

    def gold_shape(df):
        return df.select(
            "id", F2.upper(F2.col("v")).alias("v_upper"),
            (F2.col("price") * 2).alias("price2x"), "_sync_deleted",
        )

    n, through = sync_incremental(src, dst, transform=gold_shape)
    assert n == 2 and through == src.last_commit_seq()
    got = {r["id"]: (r["v_upper"], r["price2x"]) for r in dst.snapshot().collect()}
    assert got == {1: ("A", 20.0), 2: ("B", 40.0)}

    # update + delete upstream, then sync again
    src.write(
        spark.createDataFrame([(2, "b2", 25.0)], "id INT, v STRING, price DOUBLE"),
        commit_id="s2",
    )
    src.write(
        spark.createDataFrame(
            [(1, "a", 10.0, True)], "id INT, v STRING, price DOUBLE, _d BOOLEAN"
        ),
        commit_id="s3",
        delete_col="_d",
    )
    n, _ = sync_incremental(src, dst, transform=gold_shape)
    assert n == 2  # the changed keys (1 delete marker + 1 update)
    got = {r["id"]: (r["v_upper"], r["price2x"]) for r in dst.snapshot().collect()}
    assert got == {2: ("B2", 50.0)}

    # no upstream change -> free no-op; replay of the same range dedups
    assert sync_incremental(src, dst, transform=gold_shape)[0] == 0
    state = [
        f for f in __import__("os").listdir(str(tmp_path / "gold"))
        if f.startswith("_sync_from_")
    ]
    assert len(state) == 1


def test_time_travel_before_compaction_raises(spark, tmp_path):
    """as_of_seq strictly before the last delta preceding a compaction
    must RAISE (the folded history cannot be served) — a silently
    empty or stale answer would be wrong; the state AT that last
    delta is still served exactly (winner seqs survive the fold)."""
    import pytest as _pytest

    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.upsert_sink import (
        UpsertLakeTable,
    )

    t = UpsertLakeTable(
        spark, str(tmp_path / "ttc"), key="k", num_buckets=2,
        compact_every=3,
    )
    for i, (k, v) in enumerate([(1, "a"), (1, "b"), (2, "c")], start=1):
        t.write(
            spark.createDataFrame([(k, v)], "k int, v string"),
            commit_id=f"c{i}",
        )
    t.wait_for_compaction(timeout=60)
    # 3 deltas triggered a compaction; seq 3 (the last delta) is the
    # retained horizon and still serves the exact pre-fold state
    horizon = {tuple(r) for r in t.snapshot(as_of_seq=3).collect()}
    assert horizon == {(1, "b"), (2, "c")}
    with _pytest.raises(ValueError, match="folded"):
        t.snapshot(as_of_seq=1).collect()
    # post-compaction deltas keep time traveling fine
    t.write(
        spark.createDataFrame([(2, "c2")], "k int, v string"), commit_id="c4"
    )
    seq4 = t.last_commit_seq()
    assert {tuple(r) for r in t.snapshot(as_of_seq=seq4).collect()} == {
        (1, "b"), (2, "c2"),
    }


def test_incremental_and_changes_before_horizon_raise(spark, tmp_path):
    """incremental()/changes() with a range start strictly before the
    compaction horizon must raise — compaction physically drops
    tombstones, so serving the range would silently lose its delete
    markers."""
    import pytest as _pytest

    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.upsert_sink import (
        UpsertLakeTable,
    )

    t = UpsertLakeTable(
        spark, str(tmp_path / "inc_h"), key="k", num_buckets=2,
        compact_every=3,
    )
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
            commit_id="c1")
    t.write(
        spark.createDataFrame([(2, "b")], "k int, v string").withColumn(
            "_d", F.lit(True)
        ),
        commit_id="c2",
        delete_col="_d",
    )
    t.write(spark.createDataFrame([(3, "c")], "k int, v string"),
            commit_id="c3")
    t.wait_for_compaction(timeout=60)
    with _pytest.raises(ValueError, match="folded"):
        t.incremental(since_seq=1).collect()
    with _pytest.raises(ValueError, match="folded"):
        t.changes(since_seq=1).collect()
    # from the horizon forward still serves
    t.write(spark.createDataFrame([(4, "d")], "k int, v string"),
            commit_id="c4")
    got = {r["k"] for r in t.incremental(since_seq=3).collect()}
    assert got == {4}


# -- read path: schema-on-read from _schema.json ---------------------------


def _snapshot_build_jobs(spark, t):
    """Builds ``t.snapshot()`` and ``t.snapshot(with_meta=True)`` and
    returns (Spark jobs submitted meanwhile, snap, with_meta). Jobs are
    counted by a job group on this thread, so Spark work of other
    threads in the shared session cannot leak into the count."""
    import uuid

    sc = spark.sparkContext
    group = f"snapshot-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "snapshot build")
    try:
        snap = t.snapshot()
        with_meta = t.snapshot(with_meta=True)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    return jobs, snap, with_meta


def test_snapshot_build_submits_no_spark_jobs(spark, tmp_path):
    """Scans take their schema from _schema.json: building a snapshot
    over base + log lists files but submits no Spark job (footer
    schema inference would submit one per dir) — also on an evolved
    table, whose older files lack the added columns."""
    t = UpsertLakeTable(
        spark, str(tmp_path / "sor"), key="uuid", num_buckets=4, compact_every=2
    )
    t.write(_t1(spark, T1_ROWS), commit_id="c1")
    t.write(
        _t1(spark, [("id1", "Danny II", 24, "1970-01-02 00:00:00")]),
        commit_id="c2",
    )  # 2nd delta: compaction folds both into the base
    t.write(
        _t1(spark, [("id2", "Stephen II", 34, "1970-01-02 00:00:00")]),
        commit_id="c3",
    )  # stays in the log
    assert os.path.isdir(t._base) and os.path.isdir(t._log)
    jobs, snap, with_meta = _snapshot_build_jobs(spark, t)
    assert jobs == []
    got = {r["uuid"]: r["name"] for r in snap.collect()}
    assert len(got) == 8
    assert got["id1"] == "Danny II" and got["id2"] == "Stephen II"
    seqs = {r["uuid"]: r["_commit_seq"] for r in with_meta.collect()}
    # winner seqs survive compaction; the log's come from commit=<seq>
    assert (seqs["id3"], seqs["id1"], seqs["id2"]) == (1, 2, 4)
    assert dict(snap.dtypes) == {
        "uuid": "string", "name": "string", "age": "int", "ts": "timestamp",
    }

    # evolved: c4 adds `score` (its compaction rewrites only the
    # buckets c3/c4 touch), ALTER adds `note`, c5 (log) omits both
    t.write(
        _t1(spark, [("id3", "Julian II", 54, "1970-01-02 00:00:00")])
        .withColumn("score", F.lit(1.5)),
        commit_id="c4",
        evolve_schema=True,
    )
    t.alter_add_columns({"note": "string"})
    t.write(
        _t1(spark, [("id4", "Fabian II", 32, "1970-01-02 00:00:00")]),
        commit_id="c5",
        evolve_schema=True,
    )
    assert os.path.isdir(t._log)
    jobs, snap, with_meta = _snapshot_build_jobs(spark, t)
    assert jobs == []
    got = {r["uuid"]: (r["name"], r["score"], r["note"]) for r in snap.collect()}
    assert len(got) == 8
    assert got["id3"] == ("Julian II", 1.5, None)
    assert got["id4"] == ("Fabian II", None, None)
    assert got["id8"] == ("Han", None, None)
    assert dict(snap.dtypes) == {
        "uuid": "string", "name": "string", "age": "int", "ts": "timestamp",
        "score": "double", "note": "string",
    }
    assert with_meta.count() == 8


def test_evolved_tables_read_older_files_as_typed_nulls(spark, tmp_path):
    """Evolved tables (evolve_schema writes, ALTER ADD COLUMNS): base
    and log files predating a column read it as a NULL of the
    declared type."""
    t = UpsertLakeTable(
        spark, str(tmp_path / "evo"), key="uuid", num_buckets=4, compact_every=2
    )
    t.write(_t1(spark, T1_ROWS[:4]), commit_id="c1")
    t.write(_t1(spark, T1_ROWS[4:]), commit_id="c2")  # -> base
    t.write(
        _t1(spark, [("id1", "Danny II", 24, "1970-01-02 00:00:00")]).withColumn(
            "score", F.lit(1.5)
        ),
        commit_id="c3",
        evolve_schema=True,
    )  # log, with the new column
    t.alter_add_columns({"note": "string"})
    snap = t.snapshot()
    assert dict(snap.dtypes)["score"] == "double"
    assert dict(snap.dtypes)["note"] == "string"
    got = {r["uuid"]: (r["score"], r["note"]) for r in snap.collect()}
    assert got["id1"] == (1.5, None)
    assert got["id2"] == (None, None) and got["id8"] == (None, None)
    assert len(got) == 8
