"""Metadata-only file skipping: parquet footer stats, Delta
``add.stats`` (PROTOCOL.md Per-file Statistics), Iceberg manifest
bounds (spec Appendix D). The invariant under test everywhere:
pruning changes which files are OPENED, never the visible rows."""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.filestats import (
    file_survives,
    parquet_footer_stats,
    predicate_column,
)


@pytest.fixture(scope="module")
def frame(spark):
    return (
        spark.range(1000)
        .select(
            F.col("id"),
            (F.col("id") % 7).alias("g"),
            F.concat(
                F.lit("s"),
                F.lpad(F.col("id").cast("string"), 5, "0"),
            ).alias("s"),
            F.when(F.col("id") % 10 == 0, None)
            .otherwise(F.col("id").cast("double"))
            .alias("v"),
        )
        .repartitionByRange(8, "id")
    )


# ---------------------------------------------------------------- unit


def test_file_survives_interval_logic():
    st = {
        "numRecords": 100,
        "min": {"a": 10, "s": "m"},
        "max": {"a": 20, "s": "p"},
        "nulls": {"a": 0, "s": 5, "n": 100},
    }
    # equality inside/outside the interval
    assert file_survives([("a", "==", 15)], st)
    assert not file_survives([("a", "==", 9)], st)
    assert not file_survives([("a", "==", 21)], st)
    # range ops at the boundaries
    assert not file_survives([("a", "<", 10)], st)
    assert file_survives([("a", "<=", 10)], st)
    assert not file_survives([("a", ">", 20)], st)
    assert file_survives([("a", ">=", 20)], st)
    # strings compare lexicographically
    assert file_survives([("s", ">=", "o")], st)
    assert not file_survives([("s", ">", "p")], st)
    # null logic: all-null column fails every value compare
    assert not file_survives([("n", "==", 1)], st)
    assert file_survives([("n", "is_null", None)], st)
    assert not file_survives([("n", "not_null", None)], st)
    assert not file_survives([("a", "is_null", None)], st)
    # unknown column / missing stats: conservative keep
    assert file_survives([("zz", "==", 1)], st)
    # AND semantics: one impossible conjunct kills the file
    assert not file_survives([("a", "==", 15), ("a", "==", 9)], st)
    # type confusion keeps the file rather than mis-dropping
    assert file_survives([("a", "==", "10")], st)
    # NaN probes never prune
    assert file_survives([("a", "==", float("nan"))], st)


def test_file_survives_not_equal():
    st = {
        "numRecords": 5,
        "min": {"a": 3},
        "max": {"a": 3},
        "nulls": {"a": 0},
    }
    assert not file_survives([("a", "!=", 3)], st)  # constant file
    assert file_survives([("a", "!=", 4)], st)


def test_bad_op_raises():
    with pytest.raises(ValueError, match="unsupported predicate op"):
        file_survives([("a", "like", "x")], {"min": {}, "max": {}, "nulls": {}})
    with pytest.raises(ValueError, match="empty predicate"):
        predicate_column([])


def test_parquet_footer_stats_distributed(spark, frame, tmp_path):
    p = str(tmp_path / "pq")
    frame.write.parquet(p)
    files = [
        os.path.join(p, f)
        for f in os.listdir(p)
        if f.endswith(".parquet")
    ]
    st = parquet_footer_stats(spark, files)
    assert len(st) == len(files)
    assert sum(s["numRecords"] for s in st.values()) == 1000
    # global min/max across files reconstructs the column extremes
    assert min(s["min"]["id"] for s in st.values()) == 0
    assert max(s["max"]["id"] for s in st.values()) == 999
    assert min(s["min"]["s"] for s in st.values()) == "s00000"
    assert sum(s["nulls"]["v"] for s in st.values()) == 100
    # range layout -> disjoint id intervals (the pruning premise)
    ivals = sorted((s["min"]["id"], s["max"]["id"]) for s in st.values())
    for (a, b), (c, d) in zip(ivals, ivals[1:]):
        assert b < c


# ---------------------------------------------------------------- delta


def test_delta_stats_write_prune_exact(spark, frame, tmp_path):
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        export_delta,
        read_delta,
        read_delta_pruned,
    )

    d = str(tmp_path / "d")
    export_delta(frame, d, stats=True)
    log = os.path.join(d, "_delta_log", "%020d.json" % 0)
    adds = [
        json.loads(line)["add"]
        for line in open(log)
        if '"add"' in line
    ]
    st = json.loads(adds[0]["stats"])
    assert set(st) == {"numRecords", "minValues", "maxValues", "nullCount"}
    total = len(read_delta(spark, d).inputFiles())
    pr = read_delta_pruned(spark, d, [("id", "<=", 100)])
    assert len(pr.inputFiles()) < total
    expect = {
        tuple(r)
        for r in read_delta(spark, d).filter("id <= 100").collect()
    }
    assert {tuple(r) for r in pr.collect()} == expect
    # point string lookup prunes to one file
    ps = read_delta_pruned(spark, d, [("s", "==", "s00042")])
    assert len(ps.inputFiles()) == 1
    assert [r["id"] for r in ps.collect()] == [42]
    # is_null: the pruned result still finds every null row
    assert read_delta_pruned(spark, d, [("v", "is_null", None)]).count() == 100
    # impossible predicate -> zero-row frame under the table schema
    z = read_delta_pruned(spark, d, [("id", ">", 10_000)])
    assert z.count() == 0 and z.columns == ["id", "g", "s", "v"]


def test_delta_backfill_and_dv_soundness(spark, frame, tmp_path):
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        backfill_delta_stats,
        delete_delta,
        export_delta,
        read_delta,
        read_delta_pruned,
    )

    d = str(tmp_path / "d")
    export_delta(frame, d)  # no stats
    assert (
        len(read_delta_pruned(spark, d, [("id", "==", 5)]).inputFiles())
        == len(read_delta(spark, d).inputFiles())
    )
    n = backfill_delta_stats(spark, d)
    assert n == len(read_delta(spark, d).inputFiles())
    assert backfill_delta_stats(spark, d) == 0  # idempotent
    # DV delete after the backfill: stats describe the full file (a
    # superset of visible rows) so pruning stays sound
    delete_delta(spark, d, "id = 42")
    pr = read_delta_pruned(spark, d, [("id", ">=", 40), ("id", "<", 45)])
    assert [r["id"] for r in pr.collect()] == [40, 41, 43, 44]
    assert len(pr.inputFiles()) == 1


def test_delta_partition_values_prune_without_stats(spark, tmp_path):
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        export_delta,
        read_delta_pruned,
    )

    d = str(tmp_path / "p")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("b")
    )
    export_delta(df, d, partition_by=["b"])  # stats never collected
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        read_delta,
    )

    total = len(read_delta(spark, d).inputFiles())
    pr = read_delta_pruned(spark, d, [("b", "==", 2)])
    assert 0 < len(pr.inputFiles()) < total
    assert pr.count() == 25
    assert all("b=2" in f for f in pr.inputFiles())
    # a NULL partition value is logged as JSON null (PROTOCOL.md), not
    # as Spark's __HIVE_DEFAULT_PARTITION__ directory name — which the
    # pruner would take for a real value with no nulls
    dn = str(tmp_path / "pn")
    export_delta(
        spark.createDataFrame([(1, "a"), (2, None), (3, "b")], "id int, p string"),
        dn,
        partition_by=["p"],
    )
    assert read_delta(spark, dn).filter("p is null").count() == 1
    assert read_delta_pruned(spark, dn, [("p", "is_null", None)]).count() == 1


# --------------------------------------------------------------- iceberg


@pytest.mark.parametrize("fmt", [1, 2])
def test_iceberg_bounds_write_prune_exact(spark, frame, tmp_path, fmt):
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.iceberg_interop import (
        export_iceberg,
        read_iceberg,
        read_iceberg_pruned,
    )

    d = str(tmp_path / f"i{fmt}")
    export_iceberg(frame, d, format_version=fmt, stats=True)
    total = len(read_iceberg(spark, d).inputFiles())
    pr = read_iceberg_pruned(spark, d, [("id", "<=", 100)])
    assert len(pr.inputFiles()) < total
    expect = {
        tuple(r)
        for r in read_iceberg(spark, d).filter("id <= 100").collect()
    }
    assert {tuple(r) for r in pr.collect()} == expect
    ps = read_iceberg_pruned(spark, d, [("s", "==", "s00042")])
    assert len(ps.inputFiles()) == 1 and ps.count() == 1
    assert (
        read_iceberg_pruned(spark, d, [("v", "is_null", None)]).count()
        == 100
    )
    z = read_iceberg_pruned(spark, d, [("id", ">", 10_000)])
    assert z.count() == 0 and z.columns == ["id", "g", "s", "v"]


def test_iceberg_stats_survive_row_deletes(spark, frame, tmp_path):
    """Bounds pruning composes with v2 row-level deletes: the delete
    anti-join applies on the SURVIVING files and deleted rows stay
    invisible in the pruned read."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.iceberg_interop import (
        delete_iceberg,
        export_iceberg,
        read_iceberg_pruned,
    )

    d = str(tmp_path / "i")
    export_iceberg(frame, d, format_version=2, stats=True)
    delete_iceberg(spark, d, "id = 42")
    pr = read_iceberg_pruned(
        spark, d, [("id", ">=", 40), ("id", "<", 45)]
    )
    assert sorted(r["id"] for r in pr.collect()) == [40, 41, 43, 44]


def test_iceberg_no_stats_entries_always_survive(spark, frame, tmp_path):
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.iceberg_interop import (
        export_iceberg,
        read_iceberg,
        read_iceberg_pruned,
    )

    d = str(tmp_path / "i")
    export_iceberg(frame, d, format_version=2)  # stats omitted
    pr = read_iceberg_pruned(spark, d, [("id", "==", 5)])
    assert len(pr.inputFiles()) == len(
        read_iceberg(spark, d).inputFiles()
    )
    assert pr.count() == 1


def test_iceberg_mixed_stats_append(spark, frame, tmp_path):
    """A stats append onto a stats-less v0 snapshot: old entries keep
    scanning (boundless), new entries prune — per-entry decode, not
    per-table."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.iceberg_interop import (
        export_iceberg,
        read_iceberg,
        read_iceberg_pruned,
    )

    d = str(tmp_path / "i")
    lo = frame.filter("id < 500").repartitionByRange(4, "id")
    hi = frame.filter("id >= 500").repartitionByRange(4, "id")
    export_iceberg(lo, d, format_version=2)
    export_iceberg(hi, d, format_version=2, mode="append", stats=True)
    total = len(read_iceberg(spark, d).inputFiles())
    pr = read_iceberg_pruned(spark, d, [("id", "==", 900)])
    # all 4 stat-less files survive; 3 of the 4 stats files drop
    assert len(pr.inputFiles()) == total - 3
    assert pr.count() == 1


def test_single_value_roundtrip():
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.iceberg_interop import (
        _single_value_bytes,
        _single_value_from_bytes,
    )

    cases = [
        ("int", 42),
        ("long", -(1 << 40)),
        ("double", 3.5),
        ("float", 1.5),
        ("boolean", True),
        ("string", "héllo"),
        ("date", datetime.date(2024, 2, 29)),
        (
            "timestamp",
            datetime.datetime(2024, 2, 29, 12, 34, 56, 789012),
        ),
    ]
    for t, v in cases:
        assert _single_value_from_bytes(t, _single_value_bytes(t, v)) == v


# ----------------------------------------------------------------- hudi


def test_hudi_col_stats_and_bucket_pruning(spark, tmp_path):
    """Exported-Hudi file skipping: (a) bucket-index point lookup —
    a full-record-key equality scans ONE file group under the
    persisted pmod(hash(key), num_buckets) routing; (b) col_stats
    sidecar bounds — log-free groups whose persisted footer bounds
    preclude the predicate drop; logged groups always scan until
    compact_hudi (which refreshes the sidecar)."""
    from pyspark.sql import functions as F

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.hudi_interop import (
        build_hudi_col_stats,
        compact_hudi,
        hudi_bucket_for_key,
        read_hudi,
        read_hudi_pruned,
        upsert_hudi,
    )
    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.upsert_sink import (
        UpsertLakeTable,
    )

    t = UpsertLakeTable(spark, str(tmp_path / "eng"), key="id")
    df = spark.range(200).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    t.write(df, commit_id="c1")
    path = str(tmp_path / "mor")
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.hudi_interop import (
        export_hudi_mor,
    )

    export_hudi_mor(t, path, num_files=8)
    full_files = len(read_hudi(spark, path).inputFiles())
    assert full_files == 8

    # (a) bucket point lookup: one base file scanned, exact row
    pid = hudi_bucket_for_key(spark, path, {"id": 42})
    assert pid is not None and 0 <= pid < 8
    pr = read_hudi_pruned(spark, path, [("id", "==", 42)])
    assert len(pr.inputFiles()) == 1
    assert [(r.id, r.v) for r in pr.select("id", "v").collect()] == [
        (42, "v42")
    ]
    # after an upsert the key's newest value comes from the routed
    # group's LOG — the pruned lookup must serve it
    upsert_hudi(
        spark,
        path,
        spark.createDataFrame([(42, "V42b")], "id long, v string"),
    )
    pr2 = read_hudi_pruned(spark, path, [("id", "==", 42)])
    assert [(r.id, r.v) for r in pr2.select("id", "v").collect()] == [
        (42, "V42b")
    ]

    # (b) col_stats bounds: hash routing scatters ids, so a range
    # predicate can't prune — but v is constant-prefixed, and an
    # equality on a value present in one group's bounds interval
    # still proves absence elsewhere only after compaction makes the
    # groups log-free. Build the sidecar and check the logged group
    # conservatively scans:
    n = build_hudi_col_stats(spark, path)
    assert n == 8
    # every group is log-free except 42's: an impossible range drops
    # the 7 log-free groups, keeps the logged one
    pr3 = read_hudi_pruned(spark, path, [("id", ">", 10_000)])
    assert pr3.count() == 0
    assert len(pr3.inputFiles()) >= 1  # schema anchor / logged group
    # compaction folds the log and refreshes the sidecar: now the
    # impossible range scans only the single schema anchor
    compact_hudi(spark, path)
    pr4 = read_hudi_pruned(spark, path, [("id", ">", 10_000)])
    assert pr4.count() == 0
    assert len(pr4.inputFiles()) == 1
    # parity: pruned == full.filter on a real predicate
    want = {
        (r.id, r.v)
        for r in read_hudi(spark, path)
        .filter("id >= 100")
        .select("id", "v")
        .collect()
    }
    got = {
        (r.id, r.v)
        for r in read_hudi_pruned(spark, path, [("id", ">=", 100)])
        .select("id", "v")
        .collect()
    }
    assert got == want


def test_delta_optimize_zorder_stats_file_skipping(spark, tmp_path):
    """r13: optimize_delta(zorder_by, stats=True, target_files=N) —
    the rewritten adds carry fresh Per-file Statistics (OPTIMIZE
    without stats would silently lose skipping) and the z-range
    layout keeps FILE-level bounds tight on every z-ordered column,
    so a 2-D predicate opens a handful of the N files."""
    from pyspark.sql import functions as F

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        export_delta,
        optimize_delta,
        read_delta,
        read_delta_pruned,
    )

    d = str(tmp_path / "d")
    df = (
        spark.range(4000)
        .select(
            (F.col("id") % 64).alias("x"),
            F.floor(F.col("id") / 64).alias("y"),
            F.concat(F.lit("p"), F.col("id")).alias("s"),
        )
        .orderBy(F.md5(F.col("id").cast("string")))
        .repartition(4)
    )
    export_delta(df, d, stats=True)
    preds = [("x", "==", 3), ("y", "<", 10)]
    assert len(read_delta_pruned(spark, d, preds).inputFiles()) == 4
    out = optimize_delta(
        spark, d, zorder_by=["x", "y"], stats=True, target_files=16
    )
    assert out["added_files"] == 16
    pr = read_delta_pruned(spark, d, preds)
    assert pr.count() == 10
    assert len(pr.inputFiles()) < 16 // 2
    full = read_delta(spark, d)
    assert full.count() == 4000 and len(full.inputFiles()) == 16
    # guards
    import pytest as _pytest

    with _pytest.raises(ValueError, match="target_files"):
        optimize_delta(spark, d, target_files=4)


def test_iceberg_rewrite_manifests_stats_backfill(spark, tmp_path):
    """r13: rewrite_manifests(spark, stats=True) — the Iceberg stats
    BACKFILL (backfill_delta_stats' twin): entries lacking bounds
    get the four Appendix-D maps in the same metadata-only replace
    (single-manifest tables included — the fresh-export shape);
    entries already carrying bounds keep them."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.iceberg_interop import (
        export_iceberg,
        read_iceberg,
        read_iceberg_pruned,
        rewrite_manifests,
    )

    d = str(tmp_path / "i")
    df = (
        spark.range(1000)
        .select(
            F.col("id"), F.concat(F.lit("s"), F.col("id")).alias("s")
        )
        .repartitionByRange(8, "id")
    )
    export_iceberg(df, d, format_version=2)  # no stats at write
    assert (
        len(
            read_iceberg_pruned(spark, d, [("id", "==", 500)]).inputFiles()
        )
        == 8
    )
    out = rewrite_manifests(d, spark=spark, stats=True)
    assert out["stats_backfilled"] == 8
    pr = read_iceberg_pruned(spark, d, [("id", "==", 500)])
    assert len(pr.inputFiles()) == 1 and pr.count() == 1
    assert read_iceberg(spark, d).count() == 1000
    # append without stats, backfill only the NEW entries
    export_iceberg(
        df.filter("id < 10").withColumn("id", F.col("id") + 10_000),
        d,
        format_version=2,
        mode="append",
    )
    out2 = rewrite_manifests(d, spark=spark, stats=True)
    assert out2["stats_backfilled"] == 8  # old 8 keep their bounds
    pr2 = read_iceberg_pruned(spark, d, [("id", "==", 10_005)])
    assert pr2.count() == 1
    # needs spark
    with pytest.raises(ValueError, match="needs spark"):
        rewrite_manifests(d, stats=True)


def test_uniform_stats_both_legs(spark, tmp_path):
    """r13: export_uniform(stats=True) / optimize_uniform(stats=True)
    land Delta add.stats AND Iceberg manifest bounds over the SAME
    shared files, so both formats' pruned readers skip identically."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        read_delta,
        read_delta_pruned,
    )
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.iceberg_interop import (
        read_iceberg,
        read_iceberg_pruned,
    )
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.uniform import (
        export_uniform,
        optimize_uniform,
    )

    d = str(tmp_path / "u")
    df = spark.range(500).select(
        F.col("id"), F.concat(F.lit("s"), F.col("id")).alias("s")
    )
    export_uniform(
        df.repartitionByRange(4, "id"), d, format_version=2, stats=True
    )
    pd_ = read_delta_pruned(spark, d, [("id", "==", 250)])
    pi = read_iceberg_pruned(spark, d, [("id", "==", 250)])
    assert len(pd_.inputFiles()) == 1 and len(pi.inputFiles()) == 1
    assert pd_.count() == pi.count() == 1
    optimize_uniform(spark, d, stats=True)
    assert read_delta(spark, d).count() == 500
    assert read_iceberg(spark, d).count() == 500
    assert read_delta_pruned(spark, d, [("id", ">", 10_000)]).count() == 0
    assert (
        read_iceberg_pruned(spark, d, [("id", ">", 10_000)]).count() == 0
    )


def test_hudi_hive_partition_pruning(spark, tmp_path):
    """r13: a bounds_filter predicate naming a hive partition column
    prunes other partitions' file slices from exact dir-segment
    values — no sidecar needed; combined with a record-key equality
    the bucket fast path narrows within the partition."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.hudi_interop import (
        export_hudi_cow,
        read_hudi,
        read_hudi_pruned,
    )

    h = str(tmp_path / "h")
    df = spark.range(120).select(
        F.col("id"),
        (F.col("id") % 3).alias("g"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    export_hudi_cow(df, h, record_key="id", num_files=4, partition_by="g")
    total = len(read_hudi(spark, h).inputFiles())
    assert total == 12  # 3 partitions x 4 groups
    pr = read_hudi_pruned(spark, h, [("g", "==", 1)])
    assert len(pr.inputFiles()) == 4
    assert pr.count() == 40
    assert {r.g for r in pr.select("g").collect()} == {1}
    # partition + key: one partition, one group
    point = read_hudi_pruned(spark, h, [("g", "==", 1), ("id", "==", 7)])
    assert point.count() == 1
    assert len(point.inputFiles()) == 1
    # range over the partition value
    rng = read_hudi_pruned(spark, h, [("g", ">=", 2)])
    assert rng.count() == 40 and len(rng.inputFiles()) == 4


def test_delta_stats_survive_checkpoint_and_cleanup(spark, tmp_path):
    """Per-file stats ride the parquet checkpoint's nullable stats
    column, so pruning still works after the JSON commits that
    carried them are cleaned up — the long-table lifecycle."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        cleanup_log,
        export_delta,
        read_delta_pruned,
        write_checkpoint,
    )

    d = str(tmp_path / "d")
    df = (
        spark.range(1000)
        .select(
            F.col("id"), F.concat(F.lit("s"), F.col("id")).alias("s")
        )
        .repartitionByRange(8, "id")
    )
    export_delta(df, d, stats=True)
    export_delta(
        df.filter("id < 5").withColumn("id", F.col("id") + 5000),
        d,
        mode="append",
        stats=True,
    )
    write_checkpoint(spark, d)
    cleanup_log(d)
    pr = read_delta_pruned(spark, d, [("id", "==", 500)])
    assert pr.count() == 1 and len(pr.inputFiles()) == 1


def test_delta_stats_timestamp_bounds_round_correctly():
    """PROTOCOL.md stats render timestamps at ms precision; losing
    microseconds must round the MAX up (a truncated-down max would
    be a false upper bound and could wrongly prune a file)."""
    import datetime as dt

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        _delta_stats_json,
        _parse_stats_value,
    )

    t = dt.datetime(2024, 5, 1, 12, 0, 0, 123_456)
    st = {
        "numRecords": 1,
        "min": {"ts": t},
        "max": {"ts": t},
        "nulls": {"ts": 0},
    }
    s = json.loads(_delta_stats_json(st))
    assert s["minValues"]["ts"] == "2024-05-01T12:00:00.123Z"
    assert s["maxValues"]["ts"] == "2024-05-01T12:00:00.124Z"  # ceil
    lo = _parse_stats_value(s["minValues"]["ts"], "timestamp")
    hi = _parse_stats_value(s["maxValues"]["ts"], "timestamp")
    assert lo <= t <= hi  # the rendered interval still covers t
