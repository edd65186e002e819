"""Bloom file-skipping index: distributed build (bit_or aggregation),
no false negatives, real file pruning on a planted rare value, and
exactness of the pruned read."""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import functions as F

from streaming_data_lake_flink_cdc_apache_hudi_spark.operators.skipindex import (
    build_bloom_index,
    candidate_files,
    read_with_bloom,
)


def _mk_dataset(spark, path, n_files=8, rows_per=500):
    """n_files parquet files of clustered ids; a rare needle value
    lives in exactly one file."""
    for i in range(n_files):
        vals = [(i * rows_per + j, f"user_{i}_{j % 50}") for j in range(rows_per)]
        if i == 3:
            vals[17] = (vals[17][0], "needle-value")
        spark.createDataFrame(vals, "id LONG, who STRING").coalesce(
            1
        ).write.mode("append").parquet(path)


def test_bloom_prunes_files_and_read_is_exact(spark, tmp_path):
    path = str(tmp_path / "data")
    _mk_dataset(spark, path)
    idx = build_bloom_index(spark, path, "who")
    n_files = len(idx)
    assert n_files >= 8

    files, total = candidate_files(path, "who", "needle-value")
    assert total == n_files
    # the needle is in one file; bloom may false-positive a few more
    # but must prune most of the directory
    assert 1 <= len(files) <= max(2, n_files // 2)

    got = read_with_bloom(spark, path, "who", "needle-value").collect()
    want = (
        spark.read.parquet(path)
        .filter(F.col("who") == "needle-value")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == 1


def test_no_false_negatives_over_every_value(spark, tmp_path):
    """Bloom guarantee: every (file, value) actually present must pass
    the membership test — sweep all distinct values."""
    path = str(tmp_path / "data2")
    _mk_dataset(spark, path, n_files=4, rows_per=200)
    build_bloom_index(spark, path, "who")
    present = (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("f"), "who")
        .distinct()
        .collect()
    )
    for r in present:
        files, _ = candidate_files(path, "who", r["who"])
        assert any(
            os.path.basename(f) == os.path.basename(r["f"]) for f in files
        ), f"false negative for {r['who']}"


def test_absent_value_yields_empty_typed_frame(spark, tmp_path):
    path = str(tmp_path / "data3")
    _mk_dataset(spark, path, n_files=3, rows_per=100)
    build_bloom_index(spark, path, "who")
    df = read_with_bloom(spark, path, "who", "no-such-value-xyz")
    assert df.count() == 0
    assert set(df.columns) == {"id", "who"}


def test_build_is_partial_aggregated(spark, tmp_path):
    """The index build must partial-aggregate map-side: two
    HashAggregate tiers around one exchange, shuffle rows bounded by
    files — never a row-level shuffle."""
    path = str(tmp_path / "data4")
    _mk_dataset(spark, path, n_files=3, rows_per=100)
    from streaming_data_lake_flink_cdc_apache_hudi_spark.operators.skipindex import (
        WORDS,
        _positions_col,
    )

    df = (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("_file"), F.col("who").alias("_v"))
    )
    pos = _positions_col(F.col("_v"))
    m = F.lit(0).cast("long")
    for p in pos:
        m = m.bitwiseOR(F.when(
            (p / 64).cast("int") == 0,
            F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                ),
        ).otherwise(F.lit(0).cast("long")))
    agg = df.groupBy("_file").agg(F.bit_or(m).alias("w0"))
    plan = agg._jdf.queryExecution().executedPlan().treeString()
    assert plan.count("HashAggregate") == 2


def _mk_lake(spark, path):
    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.upsert_sink import (
        UpsertLakeTable,
    )

    t = UpsertLakeTable(spark, path, key="k", num_buckets=4, compact_every=1)
    rows = [(i, f"city_{i % 7}", i) for i in range(200)]
    rows[42] = (42, "atlantis", 42)
    t.write(
        spark.createDataFrame(rows, "k LONG, city STRING, ts LONG"),
        commit_id="c1",
    )
    t.compact()
    return t


def test_lake_equality_scan_prunes_and_matches_snapshot(spark, tmp_path):
    t = _mk_lake(spark, str(tmp_path / "lake"))
    n = t.build_bloom("city")
    assert n >= 1
    got = sorted(map(tuple, t.equality_scan("city", "atlantis").collect()))
    want = sorted(
        map(
            tuple,
            t.snapshot().filter(F.col("city") == "atlantis").collect(),
        )
    )
    assert got == want == [(42, "atlantis", 42)]
    # pruning is real: the needle's candidates are a strict subset
    from streaming_data_lake_flink_cdc_apache_hudi_spark.operators.skipindex import (
        candidate_files,
    )

    files, total = candidate_files(t._base, "city", "atlantis")
    assert total >= 4 and len(files) < total

    # evolved table (ALTER ADD COLUMNS, base files predate `tag`): the
    # scan stays pruned to the candidate base files and exact
    t.alter_add_columns({"tag": "string"})
    scan = t.equality_scan("city", "atlantis")
    assert [tuple(r) for r in scan.collect()] == [(42, "atlantis", 42, None)]
    base_read = {
        urlparse(f).path
        for f in scan.inputFiles()
        if os.path.abspath(t._base) in f
    }
    assert base_read == {os.path.abspath(f) for f in files}


def test_lake_equality_scan_sees_log_updates_and_deletes(spark, tmp_path):
    """Bloom pruning must never resurrect superseded/deleted rows nor
    miss post-index log writes: update the needle row and delete
    another AFTER the index was built."""
    t = _mk_lake(spark, str(tmp_path / "lake2"))
    t.build_bloom("city")
    upd = spark.createDataFrame(
        [(42, "utopia", 100), (7, "atlantis", 100)],
        "k LONG, city STRING, ts LONG",
    )
    t.write(upd, commit_id="c2")
    got = sorted(map(tuple, t.equality_scan("city", "atlantis").collect()))
    # key 42 moved away from atlantis; key 7 moved in (log-only row)
    assert got == [(7, "atlantis", 100)]
    assert sorted(
        map(tuple, t.equality_scan("city", "utopia").collect())
    ) == [(42, "utopia", 100)]


def test_lake_equality_scan_stale_index_falls_back(spark, tmp_path):
    """After a NEW compaction rewrites base files, the old sidecar is
    stale — the scan must fall back to the exact unpruned path."""
    t = _mk_lake(spark, str(tmp_path / "lake3"))
    t.build_bloom("city")
    t.write(
        spark.createDataFrame(
            [(300, "valhalla", 1)], "k LONG, city STRING, ts LONG"
        ),
        commit_id="c3",
    )
    t.compact()  # rewrites touched buckets -> sidecar now stale
    got = t.equality_scan("city", "valhalla").collect()
    assert [tuple(r) for r in got] == [(300, "valhalla", 1)]


def test_probe_rendering_matches_spark_cast_exactly(spark, tmp_path):
    """The Python probe hash must render values byte-identically to
    Spark's CAST(col AS STRING) — booleans (true/false), doubles in
    Java Double.toString layout (1.0E-7, 1.23456789E7), decimals with
    declared scale, dates and fraction-trimmed timestamps. Any
    divergence is a silent bloom FALSE NEGATIVE."""
    import datetime
    import decimal

    from streaming_data_lake_flink_cdc_apache_hudi_spark.operators.skipindex import (
        _positions_col,
        _positions_py,
        _spark_cast_string,
    )

    cases = [
        ("boolean", [True, False]),
        (
            "double",
            [
                1e-7, 0.001, 0.0001, 1234567.0, 12345678.9, 1e7, -0.0,
                0.1, 3.14159, 1e16, -2.5e-5, 42.0, float("inf"),
            ],
        ),
        ("decimal(10,3)", [decimal.Decimal("1.500"), decimal.Decimal("-0.010")]),
        ("date", [datetime.date(2024, 1, 1), datetime.date(1999, 12, 31)]),
        (
            "timestamp",
            [
                datetime.datetime(2024, 1, 1, 12, 34, 56, 123000),
                datetime.datetime(2024, 1, 1, 12, 34, 56),
                datetime.datetime(2024, 1, 1, 12, 34, 56, 120000),
            ],
        ),
        ("long", [0, -7, 123456789012]),
        ("string", ["abc", "ünïcode", ""]),
    ]
    for typ, vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], f"v {typ}")
        rendered = [
            r["s"]
            for r in df.select(F.col("v").cast("string").alias("s")).collect()
        ]
        for v, spark_s in zip(vals, rendered):
            assert _spark_cast_string(v) == spark_s, (typ, v, spark_s)
        spark_pos = df.select(
            *[
                p.alias(f"p{i}")
                for i, p in enumerate(_positions_col(F.col("v")))
            ]
        ).collect()
        for v, row in zip(vals, spark_pos):
            assert _positions_py(v) == [row["p0"], row["p1"], row["p2"]], (
                typ,
                v,
            )


def test_probe_rejects_untrustworthy_values(spark):
    import datetime

    import pytest

    from streaming_data_lake_flink_cdc_apache_hudi_spark.operators.skipindex import (
        _spark_cast_string,
    )

    with pytest.raises(TypeError):
        _spark_cast_string(None)
    with pytest.raises(TypeError):
        _spark_cast_string(5e-324)  # subnormal: Java digits diverge
    with pytest.raises(TypeError):
        _spark_cast_string(
            datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
        )


def test_distributed_parquet_sidecar_collects_only_matches(spark, tmp_path):
    """millions-of-files shape: the mask table is written distributed
    (no driver collect at build), and candidate resolution filters in
    Spark so the driver receives only matching paths — results must
    be identical to the json path."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.operators.skipindex import (
        candidate_files_distributed,
        index_parquet_path,
    )

    path = str(tmp_path / "data_pq")
    _mk_dataset(spark, path, n_files=6, rows_per=300)
    n = build_bloom_index(spark, path, "who", sidecar_format="parquet")
    assert n >= 6
    assert os.path.isdir(index_parquet_path(path, "who"))

    files, total = candidate_files_distributed(
        spark, path, "who", "needle-value"
    )
    assert total == n
    assert 1 <= len(files) <= max(2, n // 2)
    # parity with the json path on the same data
    build_bloom_index(spark, path, "who", sidecar_format="json")
    jfiles, jtotal = candidate_files(path, "who", "needle-value")
    assert files == jfiles and total == jtotal

    # read_with_bloom prefers the distributed sidecar and stays exact
    got = read_with_bloom(spark, path, "who", "needle-value").collect()
    want = (
        spark.read.parquet(path)
        .filter(F.col("who") == "needle-value")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # the sidecar dir is _-prefixed: data reads must not pick it up
    assert spark.read.parquet(path).columns == ["id", "who"]


def test_build_bloom_auto_mode_picks_by_file_count(spark, tmp_path, monkeypatch):
    """The default 'auto' sidecar format selects json at metadata
    scale and the distributed parquet sidecar past the file-count
    threshold (the driver-collect path can't be silently chosen on a
    millions-of-files table)."""
    import streaming_data_lake_flink_cdc_apache_hudi_spark.operators.skipindex as SI

    d = str(tmp_path / "auto_tbl")
    spark.createDataFrame(
        [(i, f"k{i}") for i in range(100)], "id long, k string"
    ).repartition(4).write.parquet(d)
    # small table -> json sidecar (a dict) + json file on disk
    out = SI.build_bloom_index(spark, d, "k")
    assert isinstance(out, dict) and os.path.exists(SI.index_path(d, "k"))
    # force the threshold under the file count -> parquet sidecar
    monkeypatch.setattr(SI, "AUTO_PARQUET_FILE_THRESHOLD", 2)
    out = SI.build_bloom_index(spark, d, "k")
    assert isinstance(out, int) and out >= 4
    files, total = SI.candidate_files_distributed(spark, d, "k", "k7")
    assert total >= 4 and len(files) >= 1
