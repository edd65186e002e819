"""Delta Lake format interop: export round-trip, external-log replay
(multi-commit add/remove), checkpoint handling, protocol gates.

The log fixtures are hand-built to the public Delta Transaction Log
Protocol, standing in for tables written by delta-spark / delta-rs —
which is exactly the interop claim: the reader must reconstruct the
live file set from the log alone, never by listing data files.
"""

from __future__ import annotations

import json
import os

import pytest

from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
    UnsupportedDeltaFeature,
    export_delta,
    read_delta,
)
from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.parquet import load_table

from .conftest import SF_SMOKE


def _log(path, version, actions):
    os.makedirs(os.path.join(path, "_delta_log"), exist_ok=True)
    with open(
        os.path.join(path, "_delta_log", "%020d.json" % version), "w"
    ) as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")


def _proto_meta(spark_schema_json, partition_cols=None, config=None):
    return [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "11111111-2222-3333-4444-555555555555",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": spark_schema_json,
                "partitionColumns": partition_cols or [],
                "configuration": config or {},
            }
        },
    ]


def test_export_round_trip(spark, tmp_path):
    src = load_table(spark, SF_SMOKE, "nation")
    path = str(tmp_path / "nation_delta")
    n_files = export_delta(src, path, name="nation")
    assert n_files >= 1
    # spec shape: versioned JSON log with protocol/metaData/add actions
    log = os.path.join(path, "_delta_log", "%020d.json" % 0)
    actions = [json.loads(l) for l in open(log) if l.strip()]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "protocol" and kinds[1] == "metaData"
    assert kinds.count("add") == n_files
    meta = actions[1]["metaData"]
    assert json.loads(meta["schemaString"])["type"] == "struct"
    for a in actions[2:]:
        assert a["add"]["size"] > 0 and not a["add"]["path"].startswith("/")
    back = read_delta(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, src.collect())
    )


def test_external_log_replay_add_remove(spark, tmp_path):
    """A hand-authored 3-commit log: the reader must honor removes and
    later adds, returning exactly the live files' rows."""
    path = str(tmp_path / "ext_delta")
    os.makedirs(path)
    dfs = {
        "a.parquet": [(1, "one"), (2, "two")],
        "b.parquet": [(3, "three")],
        "c.parquet": [(4, "four")],
    }
    schema = "id LONG, name STRING"
    for fname, rows in dfs.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / ("stage_" + fname)))
        part = [
            f
            for f in os.listdir(tmp_path / ("stage_" + fname))
            if f.endswith(".parquet")
        ][0]
        os.rename(
            str(tmp_path / ("stage_" + fname) / part),
            os.path.join(path, fname),
        )
    sj = spark.createDataFrame([], schema).schema.json()

    def add(p):
        return {
            "add": {
                "path": p,
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(path, p)),
                "modificationTime": 0,
                "dataChange": True,
            }
        }

    _log(path, 0, _proto_meta(sj) + [add("a.parquet")])
    _log(path, 1, [add("b.parquet")])
    _log(
        path,
        2,
        [
            {"remove": {"path": "a.parquet", "dataChange": True}},
            add("c.parquet"),
        ],
    )
    got = sorted(map(tuple, read_delta(spark, path).collect()))
    assert got == [(3, "three"), (4, "four")]


def test_partition_values_reattached(spark, tmp_path):
    """Partition columns live in partitionValues, not the parquet —
    the reader must re-attach them per file group."""
    path = str(tmp_path / "part_delta")
    os.makedirs(path)
    spark.createDataFrame([(1,), (2,)], "id LONG").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "stage_p"))
    part = [
        f for f in os.listdir(tmp_path / "stage_p") if f.endswith(".parquet")
    ][0]
    for sub in ("dt=2024-01-01", "dt=2024-01-02"):
        os.makedirs(os.path.join(path, sub))
    os.rename(
        str(tmp_path / "stage_p" / part),
        os.path.join(path, "dt=2024-01-01", "f1.parquet"),
    )
    spark.createDataFrame([(3,)], "id LONG").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "stage_p2"))
    part2 = [
        f for f in os.listdir(tmp_path / "stage_p2") if f.endswith(".parquet")
    ][0]
    os.rename(
        str(tmp_path / "stage_p2" / part2),
        os.path.join(path, "dt=2024-01-02", "f2.parquet"),
    )
    sj = spark.createDataFrame([], "id LONG, dt STRING").schema.json()
    adds = [
        {
            "add": {
                "path": "dt=2024-01-01/f1.parquet",
                "partitionValues": {"dt": "2024-01-01"},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        },
        {
            "add": {
                "path": "dt=2024-01-02/f2.parquet",
                "partitionValues": {"dt": "2024-01-02"},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        },
    ]
    _log(path, 0, _proto_meta(sj, partition_cols=["dt"]) + adds)
    got = sorted(map(tuple, read_delta(spark, path).collect()))
    assert got == [
        (1, "2024-01-01"),
        (2, "2024-01-01"),
        (3, "2024-01-02"),
    ]


def test_checkpoint_plus_tail_commits(spark, tmp_path):
    """_last_checkpoint names a parquet checkpoint; the reader must
    start there and replay only newer JSON commits."""
    path = str(tmp_path / "cp_delta")
    os.makedirs(os.path.join(path, "_delta_log"))
    spark.createDataFrame([(1,), (2,)], "id LONG").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "stage_cp"))
    part = [
        f for f in os.listdir(tmp_path / "stage_cp") if f.endswith(".parquet")
    ][0]
    os.rename(
        str(tmp_path / "stage_cp" / part), os.path.join(path, "base.parquet")
    )
    spark.createDataFrame([(9,)], "id LONG").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "stage_cp2"))
    part2 = [
        f
        for f in os.listdir(tmp_path / "stage_cp2")
        if f.endswith(".parquet")
    ][0]
    os.rename(
        str(tmp_path / "stage_cp2" / part2), os.path.join(path, "new.parquet")
    )
    sj = spark.createDataFrame([], "id LONG").schema.json()
    # checkpoint parquet at version 10 carrying the base add + metadata
    cp_rows = [
        {
            "add": {
                "path": "base.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            },
            "metaData": None,
            "protocol": None,
        },
        {
            "add": None,
            "metaData": {
                "id": "x",
                "schemaString": sj,
                "partitionColumns": [],
                "configuration": {},
            },
            "protocol": {"minReaderVersion": 1},
        },
    ]
    cp_schema = (
        "add STRUCT<path: STRING, partitionValues: MAP<STRING,STRING>, "
        "size: LONG, modificationTime: LONG, dataChange: BOOLEAN>, "
        "metaData STRUCT<id: STRING, schemaString: STRING, "
        "partitionColumns: ARRAY<STRING>, "
        "configuration: MAP<STRING,STRING>>, "
        "protocol STRUCT<minReaderVersion: INT>"
    )
    spark.createDataFrame(
        [
            (
                r["add"]
                and (
                    r["add"]["path"],
                    r["add"]["partitionValues"],
                    r["add"]["size"],
                    r["add"]["modificationTime"],
                    r["add"]["dataChange"],
                ),
                r["metaData"]
                and (
                    r["metaData"]["id"],
                    r["metaData"]["schemaString"],
                    r["metaData"]["partitionColumns"],
                    r["metaData"]["configuration"],
                ),
                r["protocol"] and (r["protocol"]["minReaderVersion"],),
            )
            for r in cp_rows
        ],
        cp_schema,
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage_cpf"))
    cpf = [
        f
        for f in os.listdir(tmp_path / "stage_cpf")
        if f.endswith(".parquet")
    ][0]
    os.rename(
        str(tmp_path / "stage_cpf" / cpf),
        os.path.join(path, "_delta_log", "%020d.checkpoint.parquet" % 10),
    )
    with open(
        os.path.join(path, "_delta_log", "_last_checkpoint"), "w"
    ) as fh:
        json.dump({"version": 10, "size": 2}, fh)
    # stale commit BEFORE the checkpoint must be ignored; commit after
    # the checkpoint adds new.parquet
    _log(
        path,
        3,
        [
            {
                "add": {
                    "path": "ghost.parquet",
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        ],
    )
    _log(
        path,
        11,
        [
            {
                "add": {
                    "path": "new.parquet",
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        ],
    )
    got = sorted(map(tuple, read_delta(spark, path).collect()))
    assert got == [(1,), (2,), (9,)]


def test_protocol_v2_and_column_mapping_refused(spark, tmp_path):
    path = str(tmp_path / "v2_delta")
    sj = spark.createDataFrame([], "id LONG").schema.json()
    _log(
        path,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "readerFeatures": ["dv"]}},
            _proto_meta(sj)[1],
        ],
    )
    with pytest.raises(UnsupportedDeltaFeature):
        read_delta(spark, path)

    # id-mode column mapping is supported (r9) but a schema with NO
    # mapping metadata at all still fails fast
    path2 = str(tmp_path / "cm_delta")
    _log(
        path2,
        0,
        _proto_meta(sj, config={"delta.columnMapping.mode": "id"}),
    )
    with pytest.raises(UnsupportedDeltaFeature, match="physicalName"):
        read_delta(spark, path2)
    # name mode with a field missing physicalName metadata fails fast
    path3 = str(tmp_path / "cm_nophys")
    _log(
        path3,
        0,
        _proto_meta(sj, config={"delta.columnMapping.mode": "name"}),
    )
    with pytest.raises(UnsupportedDeltaFeature, match="physicalName"):
        read_delta(spark, path3)


def test_empty_table_schema_from_metadata(spark, tmp_path):
    path = str(tmp_path / "empty_delta")
    sj = spark.createDataFrame([], "id LONG, name STRING").schema.json()
    _log(path, 0, _proto_meta(sj))
    df = read_delta(spark, path)
    assert df.columns == ["id", "name"] and df.count() == 0


def test_lake_table_export_delta_round_trip(spark, tmp_path):
    """The lake's keyed-upsert table hands its snapshot to any Delta
    reader: upserts applied, delete dropped, log replayable."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.upsert_sink import (
        UpsertLakeTable,
    )

    t = UpsertLakeTable(
        spark, str(tmp_path / "tkt"), key="k", num_buckets=4
    )
    rows = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k LONG, v STRING, ts LONG"
    )
    t.write(rows, commit_id="c1")
    upd = spark.createDataFrame([(2, "B", 2)], "k LONG, v STRING, ts LONG")
    t.write(upd, commit_id="c2")
    dest = str(tmp_path / "tkt_delta")
    n = t.export_delta(dest)
    assert n >= 1
    got = sorted(
        (r["k"], r["v"]) for r in read_delta(spark, dest).collect()
    )
    assert got == [(1, "a"), (2, "B")]


def test_partition_values_typed_and_null_safe(spark, tmp_path):
    """Partition values are strings in the log; an int/date partition
    column must come back with its schemaString type, and a null
    partition value (absent or __HIVE_DEFAULT_PARTITION__) must map to
    a typed NULL instead of crashing the file-group sort."""
    import datetime

    path = str(tmp_path / "typed_delta")
    os.makedirs(path)

    def _stage(rows, schema, dest):
        stage = tmp_path / ("stage_" + dest.replace("/", "_"))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.makedirs(os.path.dirname(os.path.join(path, dest)), exist_ok=True)
        os.rename(str(stage / part), os.path.join(path, dest))

    _stage([(1,)], "id LONG", "b=7/dt=2024-01-01/f1.parquet")
    _stage([(2,)], "id LONG", "b=8/dt=null/f2.parquet")
    sj = spark.createDataFrame(
        [], "id LONG, b INT, dt DATE"
    ).schema.json()

    def add(p, pv):
        return {
            "add": {
                "path": p,
                "partitionValues": pv,
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        }

    _log(
        path,
        0,
        _proto_meta(sj, partition_cols=["b", "dt"])
        + [
            add("b=7/dt=2024-01-01/f1.parquet", {"b": "7", "dt": "2024-01-01"}),
            add(
                "b=8/dt=null/f2.parquet",
                {"b": "8", "dt": "__HIVE_DEFAULT_PARTITION__"},
            ),
        ],
    )
    df = read_delta(spark, path)
    types = dict(df.dtypes)
    assert types["b"] == "int" and types["dt"] == "date"
    got = sorted(
        map(tuple, df.collect()), key=lambda t: t[0]
    )
    assert got == [
        (1, 7, datetime.date(2024, 1, 1)),
        (2, 8, None),
    ]


def test_incremental_append_scan_between_versions(spark, tmp_path):
    """read_delta_incremental serves exactly the files added in
    (from, to]; a remove action in the range raises (append-only
    ranges — CDF territory otherwise), as does a vacuumed commit."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        read_delta_incremental,
    )

    path = str(tmp_path / "inc_delta")
    os.makedirs(path)
    schema = "id LONG, name STRING"
    for fname, rows in {
        "a.parquet": [(1, "one")],
        "b.parquet": [(2, "two")],
        "c.parquet": [(3, "three")],
    }.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / ("inc_stage_" + fname)))
        part = [
            f
            for f in os.listdir(tmp_path / ("inc_stage_" + fname))
            if f.endswith(".parquet")
        ][0]
        os.rename(
            str(tmp_path / ("inc_stage_" + fname) / part),
            os.path.join(path, fname),
        )
    sj = spark.createDataFrame([], schema).schema.json()

    def add(p):
        return {
            "add": {
                "path": p,
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(path, p)),
                "modificationTime": 0,
                "dataChange": True,
            }
        }

    _log(path, 0, _proto_meta(sj) + [add("a.parquet")])
    _log(path, 1, [add("b.parquet")])
    _log(path, 2, [add("c.parquet")])
    got = sorted(map(tuple, read_delta_incremental(spark, path, 0).collect()))
    assert got == [(2, "two"), (3, "three")]
    got = sorted(
        map(tuple, read_delta_incremental(spark, path, 0, 1).collect())
    )
    assert got == [(2, "two")]
    empty = read_delta_incremental(spark, path, 2)
    assert empty.count() == 0 and empty.columns == ["id", "name"]

    # remove action inside the range -> raise; before it -> fine
    _log(path, 3, [{"remove": {"path": "a.parquet", "dataChange": True}}])
    with pytest.raises(UnsupportedDeltaFeature, match="remove action"):
        read_delta_incremental(spark, path, 0)
    assert read_delta_incremental(spark, path, 1, 2).count() == 1
    # vacuumed commit JSON in the range -> raise
    os.remove(os.path.join(path, "_delta_log", "%020d.json" % 2))
    with pytest.raises(UnsupportedDeltaFeature, match="missing"):
        read_delta_incremental(spark, path, 1, 3)


# -- deletion vectors (round 7) ---------------------------------------------


def test_roaring_bitmap_array_round_trip():
    import random

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        decode_roaring_bitmap_array,
        serialize_roaring_bitmap_array,
    )

    rng = random.Random(7)
    # array containers, a >4096-cardinality bitmap container, two
    # 16-bit keys, and a >2^32 position (second 32-bit bitmap)
    pos = sorted(
        set(
            rng.sample(range(0, 70_000), 6000)
            + [1, 65535, 65536, 2**32 + 5, 2**32 + 70_000]
        )
    )
    assert decode_roaring_bitmap_array(
        serialize_roaring_bitmap_array(pos)
    ) == pos
    assert decode_roaring_bitmap_array(
        serialize_roaring_bitmap_array([])
    ) == []


def test_roaring_run_container_decode():
    import struct

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        decode_roaring_bitmap_array,
    )

    # hand-built run-cookie bitmap: 1 container (key 0, card 5),
    # run bitset = 1 container with runs, runs (10,len4=3+1) (20,0)
    bm = struct.pack("<I", 12347 | (0 << 16))  # cookie, size-1=0
    bm += b"\x01"  # run flag bitset (container 0 has runs)
    bm += struct.pack("<HH", 0, 4)  # key 0, cardinality-1 = 4
    # size < 4 with run cookie -> no offset header
    bm += struct.pack("<H", 2)  # n_runs
    bm += struct.pack("<HH", 10, 3)  # 10..13
    bm += struct.pack("<HH", 20, 0)  # 20
    data = struct.pack("<Iq", 1681511377, 1) + bm
    assert decode_roaring_bitmap_array(data) == [10, 11, 12, 13, 20]


def _dv_table(spark, tmp_path, name, storage):
    """export a 100-row single-file table, then commit 1 re-adds the
    file with a DV deleting positions {3, 4, 5} via the requested
    storage type."""
    import base64
    import struct as _struct
    import uuid as _uuid
    import zlib as _zlib

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        serialize_roaring_bitmap_array,
        write_deletion_vector_file,
    )

    path = str(tmp_path / name)
    df = spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(1)
    export_delta(df.sortWithinPartitions("id"), path)
    with open(os.path.join(path, "_delta_log", "%020d.json" % 0)) as fh:
        add0 = next(
            json.loads(l)["add"] for l in fh if '"add"' in l
        )
    deleted = [3, 4, 5]
    if storage == "p":
        desc = write_deletion_vector_file(
            os.path.join(path, "dv", "dv0.bin"), deleted
        )
    elif storage == "i":
        data = serialize_roaring_bitmap_array(deleted)
        desc = {
            "storageType": "i",
            "pathOrInlineDv": base64.b85encode(data).decode(),
            "sizeInBytes": len(data),
            "cardinality": len(deleted),
        }
    else:  # "u"
        u = _uuid.uuid4()
        data = serialize_roaring_bitmap_array(deleted)
        with open(
            os.path.join(path, f"deletion_vector_{u}.bin"), "wb"
        ) as fh:
            fh.write(b"\x01")
            offset = fh.tell()
            fh.write(_struct.pack(">i", len(data)))
            fh.write(data)
            fh.write(_struct.pack(">I", _zlib.crc32(data) & 0xFFFFFFFF))
        desc = {
            "storageType": "u",
            "pathOrInlineDv": base64.b85encode(u.bytes).decode(),
            "offset": offset,
            "sizeInBytes": len(data),
            "cardinality": len(deleted),
        }
    _log(
        path,
        1,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            },
            # add listed BEFORE remove: same-commit actions are a set,
            # remove tombstones the OLD version, the DV'd add wins
            {"add": {**add0, "deletionVector": desc}},
            {"remove": {"path": add0["path"], "dataChange": True}},
        ],
    )
    return path


@pytest.mark.parametrize("storage", ["p", "i", "u"])
def test_deletion_vector_read(spark, tmp_path, storage):
    path = _dv_table(spark, tmp_path, f"dv_{storage}", storage)
    got = sorted(r.id for r in read_delta(spark, path).collect())
    assert got == [i for i in range(100) if i not in (3, 4, 5)]


def test_deletion_vector_cardinality_mismatch_raises(spark, tmp_path):
    path = _dv_table(spark, tmp_path, "dv_bad", "p")
    # corrupt the descriptor's cardinality
    lp = os.path.join(path, "_delta_log", "%020d.json" % 1)
    lines = [json.loads(l) for l in open(lp) if l.strip()]
    for a in lines:
        if "add" in a:
            a["add"]["deletionVector"]["cardinality"] = 99
    with open(lp, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in lines) + "\n")
    with pytest.raises(Exception, match="cardinality|positions"):
        read_delta(spark, path).collect()


def test_incremental_across_dv_add_raises(spark, tmp_path):
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        read_delta_incremental,
    )

    path = _dv_table(spark, tmp_path, "dv_incr", "p")
    with pytest.raises(UnsupportedDeltaFeature, match="deletion-vector"):
        read_delta_incremental(spark, path, from_version=0)


def test_same_commit_remove_and_readd_is_replace(spark, tmp_path):
    """A remove and add of the same path in ONE commit must keep the
    add regardless of line order (Delta set semantics — OPTIMIZE/DV
    writers emit both)."""
    path = str(tmp_path / "readd")
    df = spark.range(10).coalesce(1)
    export_delta(df, path)
    with open(os.path.join(path, "_delta_log", "%020d.json" % 0)) as fh:
        add0 = next(json.loads(l)["add"] for l in fh if '"add"' in l)
    _log(
        path,
        1,
        [
            {"add": add0},
            {"remove": {"path": add0["path"], "dataChange": False}},
        ],
    )
    assert read_delta(spark, path).count() == 10


def test_multiple_dvs_share_one_sidecar_file(spark, tmp_path):
    """Real writers pack several deletion vectors into one .bin file
    at different offsets — both descriptors must resolve through
    their own offset/length/CRC frames."""
    import struct as _struct
    import zlib as _zlib

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        serialize_roaring_bitmap_array,
    )

    path = str(tmp_path / "dv_multi")
    # two data files, 50 rows each (ids 0-49 / 50-99)
    a = spark.range(0, 50).coalesce(1)
    b = spark.range(50, 100).coalesce(1)
    export_delta(a, path)
    bdir = str(tmp_path / "bstage")
    b.write.parquet(bdir)
    part = [f for f in os.listdir(bdir) if f.endswith(".parquet")][0]
    os.replace(os.path.join(bdir, part), os.path.join(path, "b.parquet"))
    with open(os.path.join(path, "_delta_log", "%020d.json" % 0)) as fh:
        add0 = next(json.loads(l)["add"] for l in fh if '"add"' in l)
    addb = {
        "path": "b.parquet",
        "partitionValues": {},
        "size": os.path.getsize(os.path.join(path, "b.parquet")),
        "modificationTime": 0,
        "dataChange": True,
    }
    # one sidecar carrying BOTH DVs
    dv_path = os.path.join(path, "dvs.bin")
    descs = []
    with open(dv_path, "wb") as fh:
        fh.write(b"\x01")
        for positions in ([1, 2], [0, 49]):
            data = serialize_roaring_bitmap_array(positions)
            offset = fh.tell()
            fh.write(_struct.pack(">i", len(data)))
            fh.write(data)
            fh.write(_struct.pack(">I", _zlib.crc32(data) & 0xFFFFFFFF))
            descs.append(
                {
                    "storageType": "p",
                    "pathOrInlineDv": os.path.abspath(dv_path),
                    "offset": offset,
                    "sizeInBytes": len(data),
                    "cardinality": len(positions),
                }
            )
    _log(
        path,
        1,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            },
            {"remove": {"path": add0["path"], "dataChange": True}},
            {"add": {**add0, "deletionVector": descs[0]}},
            {"add": {**addb, "deletionVector": descs[1]}},
        ],
    )
    got = sorted(r.id for r in read_delta(spark, path).collect())
    # file a loses positions 1,2 (ids 1,2); file b loses positions
    # 0,49 (ids 50, 99)
    assert got == [i for i in range(100) if i not in (1, 2, 50, 99)]


def test_dv_path_normalization_mismatch_raises(spark, tmp_path, monkeypatch):
    """ADVICE r7 / updated r14: a filename with a space (Spark
    URI-renders it %20) used to be the mismatch trigger; the r14
    percent-decoding normalizer makes it READ CORRECTLY now — assert
    that. The coverage guard for a GENUINE divergence (simulated by
    breaking the normalizer) must still raise, never silently skip
    the DV anti-join."""
    path = _dv_table(spark, tmp_path, "dv_guard", "p")
    add_rel = None
    for i in (0, 1):
        lp = os.path.join(path, "_delta_log", "%020d.json" % i)
        lines = [json.loads(l) for l in open(lp) if l.strip()]
        for a in lines:
            for k in ("add", "remove"):
                if k in a and a[k]["path"].endswith(".parquet"):
                    add_rel = add_rel or a[k]["path"]
                    a[k]["path"] = a[k]["path"].replace(
                        add_rel, "part with space.parquet"
                    )
        with open(lp, "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in lines) + "\n")
    os.rename(
        os.path.join(path, add_rel),
        os.path.join(path, "part with space.parquet"),
    )
    # r14: the encoded rendering now decodes back to the add-path map
    # form — the DV applies and positions {3,4,5} stay deleted
    got = sorted(r["id"] for r in read_delta(spark, path).collect())
    assert got == [i for i in range(100) if i not in (3, 4, 5)]

    # genuine divergence (normalizer that keeps the %20 form) raises
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources import (
        parquet as pq_src,
    )
    from pyspark.sql import functions as F

    monkeypatch.setattr(
        pq_src,
        "local_path_expr",
        lambda col: F.regexp_replace(
            col, r"^[A-Za-z0-9+.-]+:(//[^/]*)?", ""
        ),
    )
    with pytest.raises(Exception, match="normalization|add-path"):
        read_delta(spark, path).collect()


def test_column_mapping_name_mode_round_trip(spark, tmp_path):
    """VERDICT r7 #5: name-mode column mapping (the modern Databricks
    default). Export writes physical col-<id> parquet names + the
    physicalName field metadata; read_delta resolves the rename back
    to the logical schema. The fixture is self-generated by the
    exporter's column_mapping flag."""
    path = str(tmp_path / "cm_rt")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, None, 3.5)],
        "id long, label string, score double",
    )
    export_delta(df, path, column_mapping=True)
    # the parquet files genuinely store PHYSICAL names
    raw = spark.read.parquet(
        *[
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
    )
    assert sorted(raw.columns) == ["col-1", "col-2", "col-3"]
    back = read_delta(spark, path)
    assert back.columns == ["id", "label", "score"]
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # pushdown reaches the scan through the rename (logical filter)
    assert back.filter("id = 2").collect()[0]["label"] == "b"


def test_column_mapping_id_mode_round_trip(spark, tmp_path):
    """VERDICT r8 #4: ID-mode column mapping. The exporter writes
    parquet files with REAL field ids (Spark persists the
    parquet.field.id field metadata as the schema's field_id) and
    delta.columnMapping.mode=id; read_delta resolves logical columns
    by field id from one footer read and renames to the logical
    schema."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "cmid_rt")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, None, 3.5)],
        "id long, label string, score double",
    )
    export_delta(df, path, column_mapping="id")
    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    ]
    # the files genuinely carry field ids 1..3
    sch = pq.ParquetFile(files[0]).schema_arrow
    fids = sorted(
        int((f.metadata or {}).get(b"PARQUET:field_id")) for f in sch
    )
    assert fids == [1, 2, 3]
    meta_line = [
        json.loads(line)
        for line in open(
            os.path.join(path, "_delta_log", "%020d.json" % 0)
        )
        if "metaData" in line
    ][0]["metaData"]
    assert (
        meta_line["configuration"]["delta.columnMapping.mode"] == "id"
    )
    back = read_delta(spark, path)
    assert back.columns == ["id", "label", "score"]
    assert sorted(map(tuple, back.collect()), key=str) == sorted(
        map(tuple, df.collect()), key=str
    )
    assert back.filter("id = 2").collect()[0]["label"] == "b"


def test_column_mapping_id_mode_resolves_by_field_id_not_name(
    spark, tmp_path
):
    """Field ids are AUTHORITATIVE in id mode: a table whose parquet
    column names match neither the logical nor the recorded physical
    names must still read correctly through the field ids — and a
    table whose files carry NO field ids must refuse, not guess by
    name."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "cmid_auth")
    os.makedirs(path, exist_ok=True)
    sch = pa.schema(
        [
            pa.field(
                "weird_a", pa.int64(),
                metadata={b"PARQUET:field_id": b"1"},
            ),
            pa.field(
                "weird_b", pa.string(),
                metadata={b"PARQUET:field_id": b"2"},
            ),
        ]
    )
    pq.write_table(
        pa.table({"weird_a": [1, 2], "weird_b": ["x", "y"]}, schema=sch),
        os.path.join(path, "f1.parquet"),
    )
    schema = {
        "type": "struct",
        "fields": [
            {
                "name": "k",
                "type": "long",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-1",
                },
            },
            {
                "name": "v",
                "type": "string",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": "col-2",
                },
            },
        ],
    }
    _log(
        path,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "t",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema),
                    "partitionColumns": [],
                    "configuration": {
                        "delta.columnMapping.mode": "id",
                        "delta.columnMapping.maxColumnId": "2",
                    },
                }
            },
            {
                "add": {
                    "path": "f1.parquet",
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            },
        ],
    )
    got = sorted((r["k"], r["v"]) for r in read_delta(spark, path).collect())
    assert got == [(1, "x"), (2, "y")]
    # no field ids in the files -> refuse (never resolve by name)
    path2 = str(tmp_path / "cmid_noids")
    os.makedirs(path2, exist_ok=True)
    pq.write_table(
        pa.table({"col-1": [1], "col-2": ["x"]}),
        os.path.join(path2, "f1.parquet"),
    )
    _log(
        path2,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "t2",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema),
                    "partitionColumns": [],
                    "configuration": {
                        "delta.columnMapping.mode": "id",
                        "delta.columnMapping.maxColumnId": "2",
                    },
                }
            },
            {
                "add": {
                    "path": "f1.parquet",
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            },
        ],
    )
    with pytest.raises(UnsupportedDeltaFeature, match="field id"):
        read_delta(spark, path2).collect()


def test_column_mapping_partitioned_physical_keys(spark, tmp_path):
    """Under column mapping the log keys partitionValues by PHYSICAL
    name; the reader must look them up there and re-attach the column
    under its LOGICAL name with its schema type."""
    path = str(tmp_path / "cm_part")
    os.makedirs(path, exist_ok=True)
    spark.createDataFrame([(10,), (11,)], "`col-2` long").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(path, "pa"))
    spark.createDataFrame([(20,)], "`col-2` long").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(path, "pb"))
    files = {
        d: [
            f"{d}/{f}"
            for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        ][0]
        for d in ("pa", "pb")
    }
    schema = {
        "type": "struct",
        "fields": [
            {
                "name": "k",
                "type": "integer",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-1",
                },
            },
            {
                "name": "v",
                "type": "long",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": "col-2",
                },
            },
        ],
    }
    _log(
        path,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "t",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema),
                    "partitionColumns": ["k"],
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        "delta.columnMapping.maxColumnId": "2",
                    },
                }
            },
            {
                "add": {
                    "path": files["pa"],
                    "partitionValues": {"col-1": "7"},
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            },
            {
                "add": {
                    "path": files["pb"],
                    "partitionValues": {"col-1": "8"},
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            },
        ],
    )
    got = sorted(
        (r["k"], r["v"]) for r in read_delta(spark, path).collect()
    )
    assert got == [(7, 10), (7, 11), (8, 20)]
    sch = dict(read_delta(spark, path).dtypes)
    assert sch["k"] == "int" and sch["v"] == "bigint"


def test_column_mapping_nested_struct_gated(spark, tmp_path):
    path = str(tmp_path / "cm_nested")
    df = spark.createDataFrame(
        [(1, (2, 3))], "id long, pt struct<x:long,y:long>"
    )
    export_delta(df, path, column_mapping=True)
    with pytest.raises(UnsupportedDeltaFeature, match="nested"):
        read_delta(spark, path)


def test_partition_filter_prunes_scan_legs(spark, tmp_path):
    """Partition values are re-attached as per-file-group LITERALS, so
    a filter on the partition column constant-folds to false on the
    non-matching union legs and Catalyst removes their scans entirely
    — metadata-level partition pruning for free (pinned via
    inputFiles on the filtered plan)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "prune_delta")
    os.makedirs(path)

    def stage(rows, dest):
        st = dest + ".st"
        spark.createDataFrame(rows, "id LONG").coalesce(1).write.mode(
            "overwrite"
        ).parquet(st)
        part = [f for f in os.listdir(st) if f.endswith(".parquet")][0]
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.replace(os.path.join(st, part), dest)

    stage([(1,), (2,)], os.path.join(path, "dt=a", "f1.parquet"))
    stage([(3,)], os.path.join(path, "dt=b", "f2.parquet"))
    sj = spark.createDataFrame([], "id LONG, dt STRING").schema.json()
    adds = [
        {
            "add": {
                "path": f"dt={v}/f{i}.parquet",
                "partitionValues": {"dt": v},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        }
        for i, v in ((1, "a"), (2, "b"))
    ]
    _log(path, 0, _proto_meta(sj, partition_cols=["dt"]) + adds)
    df = read_delta(spark, path)
    pruned = df.filter(F.col("dt") == "b")
    assert sorted(map(tuple, pruned.collect())) == [(3, "b")]
    assert len(df.inputFiles()) == 2
    assert len(pruned.inputFiles()) == 1


def test_export_delta_append_commits_next_version(spark, tmp_path):
    """r9: mode='append' lands new part files beside the old and
    writes the NEXT log version with add actions only; the replayed
    table serves the union, schema/partitioning drift refuses."""
    path = str(tmp_path / "delta_append")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    )
    extra = spark.createDataFrame([(3, "c")], "id long, v string")
    export_delta(base, path)
    export_delta(extra, path, mode="append")
    got = sorted(map(tuple, read_delta(spark, path).collect()))
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    v1 = os.path.join(path, "_delta_log", "%020d.json" % 1)
    acts = [json.loads(l) for l in open(v1) if l.strip()]
    assert acts and all(set(a) == {"add"} for a in acts)
    with pytest.raises(UnsupportedDeltaFeature, match="schema"):
        export_delta(
            spark.createDataFrame([(4,)], "id long"), path, mode="append"
        )
    with pytest.raises(UnsupportedDeltaFeature, match="partition"):
        export_delta(extra, path, partition_by=["v"], mode="append")
    with pytest.raises(FileNotFoundError):
        export_delta(extra, str(tmp_path / "nolog"), mode="append")
    # partitioned append: new files under their value dirs, adds carry
    # partitionValues, pruning still leg-level
    p2 = str(tmp_path / "delta_append_part")
    export_delta(base, p2, partition_by=["v"])
    export_delta(extra, p2, partition_by=["v"], mode="append")
    d = read_delta(spark, p2)
    assert sorted(map(tuple, d.collect())) == [(1, "a"), (2, "b"), (3, "c")]
    assert {f.rsplit("/", 2)[-2] for f in d.filter("v = 'c'").inputFiles()} == {
        "v=c"
    }


def test_delete_delta_writes_deletion_vectors(spark, tmp_path):
    """r10: delete_delta marks rows deleted via real DV sidecars —
    no data rewrite. Second deletes MERGE with existing DVs, time
    travel before the delete sees everything, checkpoints carry the
    descriptor through cleanup, OPTIMIZE purges the DVs, and the
    protocol upgrades to v3/v7 deletionVectors features. Partitioned
    and column-mapped tables work (the scan resolves both before the
    predicate binds)."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        cleanup_log,
        delete_delta,
        optimize_delta,
        write_checkpoint,
    )

    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    path = str(tmp_path / "dv_del")
    export_delta(mk([(i, chr(97 + i % 5)) for i in range(20)]), path)
    export_delta(
        mk([(i, chr(97 + i % 5)) for i in range(20, 30)]),
        path,
        mode="append",
    )
    res = delete_delta(spark, path, "id % 3 = 0")
    assert res["deleted_rows"] == 10 and res["files_touched"] >= 1
    want = [i for i in range(30) if i % 3 != 0]
    assert sorted(r[0] for r in read_delta(spark, path).collect()) == want
    # a real .bin sidecar exists; data files untouched
    assert any(
        f.startswith("deletion_vector_") and f.endswith(".bin")
        for f in os.listdir(path)
    )
    # protocol upgraded in the delete commit
    v2 = os.path.join(path, "_delta_log", "%020d.json" % res["version"])
    acts = [json.loads(l) for l in open(v2) if l.strip()]
    protos = [a["protocol"] for a in acts if "protocol" in a]
    assert protos and protos[0]["minReaderVersion"] == 3
    assert "deletionVectors" in protos[0]["readerFeatures"]
    # second delete merges with the existing DVs
    delete_delta(spark, path, "v = 'b'")
    want2 = [i for i in want if chr(97 + i % 5) != "b"]
    assert sorted(r[0] for r in read_delta(spark, path).collect()) == want2
    # no-match delete commits nothing
    assert delete_delta(spark, path, "id = 999")["files_touched"] == 0
    # time travel to the pre-delete version still serves every row
    assert sorted(
        r[0] for r in read_delta(spark, path, version_as_of=1).collect()
    ) == list(range(30))
    # checkpoint round-trips the DV descriptor; OPTIMIZE purges DVs
    write_checkpoint(spark, path)
    cleanup_log(path)
    assert sorted(r[0] for r in read_delta(spark, path).collect()) == want2
    optimize_delta(spark, path)
    d = read_delta(spark, path)
    assert sorted(r[0] for r in d.collect()) == want2
    assert len(d.inputFiles()) == 1
    # partitioned: predicate over the re-attached partition column
    p2 = str(tmp_path / "dv_part")
    export_delta(
        mk([(1, "a"), (2, "b"), (3, "a"), (4, "c")]),
        p2,
        partition_by=["v"],
    )
    delete_delta(spark, p2, "v = 'a' OR id = 4")
    assert sorted(r[0] for r in read_delta(spark, p2).collect()) == [2]
    # column-mapped: predicate binds LOGICAL names
    p3 = str(tmp_path / "dv_mapped")
    export_delta(mk([(1, "a"), (2, "b"), (3, "c")]), p3,
                 column_mapping="name")
    delete_delta(spark, p3, "v = 'b'")
    assert sorted(r[0] for r in read_delta(spark, p3).collect()) == [1, 3]


def test_export_delta_append_onto_column_mapped(spark, tmp_path):
    """r10 (VERDICT r9 ask #3): append inherits the table's column
    mapping from its metaData — name AND id mode — so appended files
    carry the same physical names (and, id mode, the same parquet
    field_ids) as v0's, and the multi-commit read resolves every
    commit identically. Mismatched caller mode and partitioned
    mapped tables refuse."""
    import pyarrow.parquet as pq

    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    for mode in ("name", "id"):
        path = str(tmp_path / f"mapped_append_{mode}")
        export_delta(mk([(1, "a"), (2, "b")]), path, column_mapping=mode)
        export_delta(mk([(3, "c")]), path, mode="append")
        # explicitly matching caller mode is accepted too
        export_delta(mk([(4, "d")]), path, mode="append",
                     column_mapping=mode)
        got = sorted(map(tuple, read_delta(spark, path).collect()))
        assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
        # every data file (v0 + appends) stores PHYSICAL names
        names = set()
        ids = set()
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            arrow = pq.ParquetFile(os.path.join(path, f)).schema_arrow
            names.update(arrow.names)
            for fld in arrow:
                fid = (fld.metadata or {}).get(b"PARQUET:field_id")
                if fid is not None:
                    ids.add(int(fid))
        assert names == {"col-1", "col-2"}
        if mode == "id":
            assert ids == {1, 2}  # appended files re-stamp field ids
        # appends carry add actions only, physical paths resolve
        v2 = os.path.join(path, "_delta_log", "%020d.json" % 2)
        acts = [json.loads(l) for l in open(v2) if l.strip()]
        assert acts and all(set(a) == {"add"} for a in acts)
        with pytest.raises(ValueError, match="does not match"):
            export_delta(
                mk([(9, "z")]), path, mode="append",
                column_mapping="id" if mode == "name" else "name",
            )
    # unmapped table + caller-passed mapping on append also refuses
    plain = str(tmp_path / "plain")
    export_delta(mk([(1, "a")]), plain)
    with pytest.raises(ValueError, match="does not match"):
        export_delta(mk([(2, "b")]), plain, mode="append",
                     column_mapping="name")


def test_read_delta_version_as_of_time_travel(spark, tmp_path):
    """r9: version_as_of stops the log replay at that commit — each
    version serves exactly its live file set; removes later in the
    log resurrect; out-of-range and non-reconstructable versions
    raise instead of silently serving a different state."""
    import shutil

    path = str(tmp_path / "delta_tt")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    e1 = spark.createDataFrame([(3, "c")], "id long, v string")
    e2 = spark.createDataFrame([(4, "d")], "id long, v string")
    export_delta(base, path)
    export_delta(e1, path, mode="append")
    export_delta(e2, path, mode="append")
    want = {
        0: [(1, "a"), (2, "b")],
        1: [(1, "a"), (2, "b"), (3, "c")],
        2: [(1, "a"), (2, "b"), (3, "c"), (4, "d")],
    }
    for v, rows in want.items():
        got = sorted(map(tuple, read_delta(spark, path, version_as_of=v).collect()))
        assert got == rows, v
    assert sorted(map(tuple, read_delta(spark, path).collect())) == want[2]
    for bad in (3, -1):
        with pytest.raises(ValueError, match="out of range"):
            read_delta(spark, path, version_as_of=bad)
    # a remove later in the log: v0 read resurrects the removed file
    # (coalesce(1): exactly one part, so the remove empties the table —
    # without it Spark may emit an EMPTY extra part under load and
    # removing that one leaves the count unchanged)
    path2 = str(tmp_path / "delta_tt_rm")
    export_delta(base.coalesce(1), path2)
    parts = [
        f for f in os.listdir(path2)
        if f.endswith(".parquet") and not f.startswith("_")
    ]
    assert len(parts) == 1
    _log(path2, 1, [{"remove": {"path": parts[0], "dataChange": True}}])
    assert read_delta(spark, path2).count() == 0
    assert sorted(
        map(tuple, read_delta(spark, path2, version_as_of=0).collect())
    ) == want[0]
    # vacuumed early commit -> the version is not reconstructable
    path3 = str(tmp_path / "delta_tt_gone")
    shutil.copytree(path, path3)
    os.remove(os.path.join(path3, "_delta_log", "%020d.json" % 0))
    with pytest.raises(UnsupportedDeltaFeature, match="reconstructable"):
        read_delta(spark, path3, version_as_of=1)


def test_write_checkpoint_and_cleanup_log(spark, tmp_path):
    """r9: write_checkpoint snapshots the live state as the spec's
    parquet checkpoint + _last_checkpoint; cleanup_log then deletes
    the covered JSON commits; reads replay checkpoint + later commits
    only; time travel into the cleaned range raises; appends anchor
    on the checkpoint version when no JSON commits remain."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        cleanup_log,
        write_checkpoint,
    )

    path = str(tmp_path / "delta_cp")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    export_delta(mk([(1, "a"), (2, "b")]), path)
    export_delta(mk([(3, "c")]), path, mode="append")
    export_delta(mk([(4, "d")]), path, mode="append")
    with pytest.raises(UnsupportedDeltaFeature, match="checkpoint"):
        cleanup_log(path)
    info = write_checkpoint(spark, path)
    assert info["version"] == 2
    log = os.path.join(path, "_delta_log")
    assert os.path.exists(os.path.join(log, "%020d.checkpoint.parquet" % 2))
    lc = json.load(open(os.path.join(log, "_last_checkpoint")))
    assert lc == {"version": 2, "size": info["actions"]}
    want = [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    assert sorted(map(tuple, read_delta(spark, path).collect())) == want
    assert cleanup_log(path) == 3
    assert not [f for f in os.listdir(log) if f.endswith(".json")]
    # replay now rides the checkpoint alone
    assert sorted(map(tuple, read_delta(spark, path).collect())) == want
    with pytest.raises(UnsupportedDeltaFeature, match="reconstructable"):
        read_delta(spark, path, version_as_of=1)
    # append after cleanup anchors on the checkpoint version
    export_delta(mk([(5, "e")]), path, mode="append")
    assert os.path.exists(os.path.join(log, "%020d.json" % 3))
    assert sorted(map(tuple, read_delta(spark, path).collect())) == want + [
        (5, "e")
    ]
    # a second checkpoint covers the post-cleanup commit too
    assert write_checkpoint(spark, path)["version"] == 3
    assert cleanup_log(path) == 1
    assert sorted(map(tuple, read_delta(spark, path).collect())) == want + [
        (5, "e")
    ]


def test_checkpoint_parquet_is_spec_shaped(spark, tmp_path):
    """r10 (ADVICE r9 fix): the checkpoint parquet carries the spec's
    EXPLICIT schema — add.partitionValues is map<string,string> and
    PRESENT (empty map) for unpartitioned tables, stats/tags/remove
    columns exist as nullables — so delta-spark/delta-rs can replay
    it (JSON inference used to emit struct-typed partitionValues and
    prune the empty field entirely)."""
    from pyspark.sql import types as T

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        write_checkpoint,
    )

    mk = lambda rows: spark.createDataFrame(rows, "id long, k string")

    # unpartitioned: partitionValues must still be an EMPTY MAP
    path = str(tmp_path / "cp_plain")
    export_delta(mk([(1, "a"), (2, "b")]), path)
    export_delta(mk([(3, "a")]), path, mode="append")
    write_checkpoint(spark, path)
    cp = spark.read.parquet(
        os.path.join(path, "_delta_log", "%020d.checkpoint.parquet" % 1)
    )
    f = {x.name: x.dataType for x in cp.schema["add"].dataType.fields}
    assert f["partitionValues"] == T.MapType(
        T.StringType(), T.StringType()
    )
    assert "stats" in f and f["stats"] == T.StringType()
    assert "tags" in f and "deletionVector" in f
    assert "remove" in cp.columns and "protocol" in cp.columns
    m = {x.name: x.dataType for x in cp.schema["metaData"].dataType.fields}
    assert m["configuration"] == T.MapType(T.StringType(), T.StringType())
    adds = [r["add"] for r in cp.collect() if r["add"] is not None]
    assert adds and all(r["partitionValues"] == {} for r in adds)

    # partitioned: the hive values land in the map, stringly per spec
    path2 = str(tmp_path / "cp_part")
    export_delta(mk([(1, "a"), (2, "b")]), path2, partition_by=["k"])
    write_checkpoint(spark, path2)
    cp2 = spark.read.parquet(
        os.path.join(path2, "_delta_log", "%020d.checkpoint.parquet" % 0)
    )
    vals = sorted(
        r["add"]["partitionValues"]["k"]
        for r in cp2.collect()
        if r["add"] is not None
    )
    assert vals == ["a", "b"]


def test_optimize_delta_compacts_files(spark, tmp_path):
    """r9: OPTIMIZE rewrites the live set into one file per partition
    with a dataChange=false remove+add commit; values unchanged; time
    travel to the pre-OPTIMIZE version still serves the old files;
    column-mapped tables refuse."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        optimize_delta,
    )

    mk = lambda rows: spark.createDataFrame(rows, "id long, k string")
    # unpartitioned: 3 commits -> >=3 files -> 1 file
    path = str(tmp_path / "delta_opt")
    export_delta(mk([(1, "x"), (2, "y")]), path)
    export_delta(mk([(3, "x")]), path, mode="append")
    export_delta(mk([(4, "y")]), path, mode="append")
    want = sorted(map(tuple, read_delta(spark, path).collect()))
    n_before = len(read_delta(spark, path).inputFiles())
    assert n_before >= 3
    res = optimize_delta(spark, path)
    assert res["version"] == 3
    assert res["removed_files"] == n_before and res["added_files"] == 1
    after = read_delta(spark, path)
    assert len(after.inputFiles()) == 1
    assert sorted(map(tuple, after.collect())) == want
    # the commit is all dataChange=false
    acts = [
        json.loads(l)
        for l in open(os.path.join(path, "_delta_log", "%020d.json" % 3))
        if l.strip()
    ]
    assert acts and all(
        not next(iter(a.values()))["dataChange"] for a in acts
    )
    # pre-OPTIMIZE version still serves the old (multi-file) state
    old = read_delta(spark, path, version_as_of=2)
    assert len(old.inputFiles()) == n_before
    assert sorted(map(tuple, old.collect())) == want
    # partitioned: one file PER partition dir
    p2 = str(tmp_path / "delta_opt_part")
    export_delta(mk([(1, "x"), (2, "y")]), p2, partition_by=["k"])
    export_delta(mk([(3, "x"), (4, "y")]), p2, partition_by=["k"], mode="append")
    assert len(read_delta(spark, p2).inputFiles()) == 4
    res = optimize_delta(spark, p2)
    assert res["added_files"] == 2
    d = read_delta(spark, p2)
    assert len(d.inputFiles()) == 2
    assert sorted(map(tuple, d.collect())) == want
    assert {
        f.rsplit("/", 2)[-2] for f in d.filter("k = 'x'").inputFiles()
    } == {"k=x"}
    # column-mapped tables compact too (r10): rewritten files store
    # PHYSICAL names (+ field ids in id mode) so they resolve exactly
    # like the originals
    import pyarrow.parquet as pq

    for mode in ("name", "id"):
        p3 = str(tmp_path / f"delta_opt_cm_{mode}")
        export_delta(mk([(1, "x"), (2, "y")]), p3, column_mapping=mode)
        export_delta(mk([(3, "z")]), p3, mode="append")
        res3 = optimize_delta(spark, p3, zorder_by=["id"])
        assert res3["added_files"] == 1
        d3 = read_delta(spark, p3)
        assert sorted(map(tuple, d3.collect())) == [
            (1, "x"), (2, "y"), (3, "z"),
        ]
        assert len(d3.inputFiles()) == 1
        f = d3.inputFiles()[0].replace("file://", "").replace("file:", "")
        arrow = pq.ParquetFile(f).schema_arrow
        assert set(arrow.names) == {"col-1", "col-2"}
        if mode == "id":
            assert {
                int((fl.metadata or {}).get(b"PARQUET:field_id", -1))
                for fl in arrow
            } == {1, 2}


def test_write_checkpoint_round_trips_dv_descriptors(spark, tmp_path):
    """r9: a DV'd add survives the checkpoint parquet round trip —
    after cleanup the DV anti-join still drops the deleted rows."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        cleanup_log,
        write_checkpoint,
    )

    path = _dv_table(spark, tmp_path, "dv_cp", "p")
    want = [i for i in range(100) if i not in (3, 4, 5)]
    write_checkpoint(spark, path)
    assert cleanup_log(path) == 2
    got = sorted(r.id for r in read_delta(spark, path).collect())
    assert got == want


def test_optimize_delta_zorder_by(spark, tmp_path):
    """r9: OPTIMIZE ... ZORDER BY — the rewritten file's rows are
    Morton-sorted on the named columns (values identical; z-values
    non-decreasing in file order), unknown columns refuse."""
    import random

    from pyspark.sql import functions as F

    from streaming_data_lake_flink_cdc_apache_hudi_spark.operators.zorder import (
        column_bounds,
        zorder_value,
    )
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        optimize_delta,
    )

    rng = random.Random(5)
    rows = [
        (i, rng.randrange(1000), rng.randrange(1000))
        for i in range(400)
    ]
    path = str(tmp_path / "delta_opt_z")
    df = spark.createDataFrame(rows, "id long, x long, y long")
    export_delta(df.repartition(4), path)
    with pytest.raises(ValueError, match="unknown"):
        optimize_delta(spark, path, zorder_by=["nope"])
    res = optimize_delta(spark, path, zorder_by=["x", "y"])
    assert res["added_files"] == 1
    after = read_delta(spark, path)
    assert sorted(map(tuple, after.collect())) == sorted(rows)
    # file order = z order: recompute z over the single compacted
    # file read in one partition and assert non-decreasing
    mins, maxs = column_bounds(after, ["x", "y"])
    z = [
        r.z
        for r in after.coalesce(1)
        .select(
            zorder_value([F.col("x"), F.col("y")], mins, maxs).alias("z")
        )
        .collect()
    ]
    assert all(z[i] <= z[i + 1] for i in range(len(z) - 1))


def test_write_checkpoint_multi_part(spark, tmp_path):
    """r9: parts=N writes the spec's multi-part checkpoint
    (%020d.checkpoint.%010d.%010d.parquet) + a parts pointer; replay
    reads all parts; cleanup + time travel behave as single-part."""
    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        cleanup_log,
        write_checkpoint,
    )

    path = str(tmp_path / "delta_cp_parts")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    export_delta(mk([(i, f"v{i}") for i in range(4)]), path)
    export_delta(mk([(9, "x")]), path, mode="append")
    info = write_checkpoint(spark, path, parts=3)
    assert info["parts"] == 3 and info["version"] == 1
    log = os.path.join(path, "_delta_log")
    names = sorted(f for f in os.listdir(log) if ".checkpoint." in f)
    assert names == [
        "%020d.checkpoint.%010d.%010d.parquet" % (1, i + 1, 3)
        for i in range(3)
    ]
    assert json.load(open(os.path.join(log, "_last_checkpoint")))[
        "parts"
    ] == 3
    assert cleanup_log(path) == 2
    want = [(i, f"v{i}") for i in range(4)] + [(9, "x")]
    assert sorted(map(tuple, read_delta(spark, path).collect())) == sorted(
        want
    )
    export_delta(mk([(10, "y")]), path, mode="append")
    assert sorted(map(tuple, read_delta(spark, path).collect())) == sorted(
        want + [(10, "y")]
    )
    # time travel to the checkpointed version rides the parts
    assert sorted(
        map(tuple, read_delta(spark, path, version_as_of=1).collect())
    ) == sorted(want)

def test_read_delta_cdf_derives_changes(spark, tmp_path):
    """r11: read_delta_cdf derives row-level changes from commit
    actions — inserts from new dataChange adds, deletes from DV
    diffs on re-adds and from true removes; OPTIMIZE commits are
    silent; the change stream folds back to the live read; vacuumed
    ranges and missing commits raise clearly."""
    from collections import Counter

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        cleanup_log,
        delete_delta,
        export_delta,
        optimize_delta,
        read_delta,
        read_delta_cdf,
        vacuum_delta,
        write_checkpoint,
    )

    path = str(tmp_path / "cdf")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    export_delta(mk([(i, f"v{i}") for i in range(6)]).coalesce(1), path)
    export_delta(
        mk([(6, "v6"), (7, "v7")]).coalesce(1), path, mode="append"
    )
    delete_delta(spark, path, "id IN (1, 6)")
    delete_delta(spark, path, "id = 2")
    optimize_delta(spark, path)

    C = lambda df: Counter(map(tuple, df.collect()))
    want = Counter()
    for i in range(6):
        want[(i, f"v{i}", "insert", 0)] += 1
    for i in (6, 7):
        want[(i, f"v{i}", "insert", 1)] += 1
    for i in (1, 6):
        want[(i, f"v{i}", "delete", 2)] += 1
    want[(2, "v2", "delete", 3)] += 1
    assert C(read_delta_cdf(spark, path, 0)) == want
    assert C(read_delta_cdf(spark, path, 2, 3)) == Counter(
        {
            (1, "v1", "delete", 2): 1,
            (6, "v6", "delete", 2): 1,
            (2, "v2", "delete", 3): 1,
        }
    )
    assert read_delta_cdf(spark, path, 4, 4).count() == 0  # OPTIMIZE
    # the change stream folds to the live state
    ins, dels = Counter(), Counter()
    for (i, v, ch, _vv), n in C(read_delta_cdf(spark, path, 0)).items():
        (ins if ch == "insert" else dels)[(i, v)] += n
    assert ins - dels == C(read_delta(spark, path).select("id", "v"))
    # vacuumed data files in the range raise clearly
    write_checkpoint(spark, path)
    vacuum_delta(spark, path, retain_versions=0)
    with pytest.raises(UnsupportedDeltaFeature, match="vacuumed"):
        read_delta_cdf(spark, path, 0).count()
    # cleaned-up commit JSONs raise clearly
    cleanup_log(path)
    with pytest.raises(UnsupportedDeltaFeature, match="commit JSON"):
        read_delta_cdf(spark, path, 0)

def test_timestamp_as_of_time_travel(spark, tmp_path):
    """r11: read_delta(timestamp_as_of=ms) resolves to the LAST
    commit at or before the instant via the commit JSONs' mtimes
    (delta-spark's rule without in-commit timestamps); pre-history
    timestamps and combining both travel args raise."""
    import os
    import time

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        export_delta,
        read_delta,
    )

    path = str(tmp_path / "ts_travel")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    export_delta(mk([(1, "a")]), path)
    export_delta(mk([(2, "b")]), path, mode="append")
    # pin distinct mtimes so the resolution order is deterministic
    log = os.path.join(path, "_delta_log")
    t0 = time.time() - 100
    os.utime(os.path.join(log, f"{0:020d}.json"), (t0, t0))
    os.utime(os.path.join(log, f"{1:020d}.json"), (t0 + 50, t0 + 50))
    at_v0 = int((t0 + 10) * 1000)
    got = sorted(
        map(tuple, read_delta(spark, path,
                              timestamp_as_of=at_v0).collect())
    )
    assert got == [(1, "a")]
    at_v1 = int((t0 + 60) * 1000)
    assert sorted(
        map(tuple, read_delta(spark, path,
                              timestamp_as_of=at_v1).collect())
    ) == [(1, "a"), (2, "b")]
    with pytest.raises(ValueError, match="precedes"):
        read_delta(spark, path, timestamp_as_of=int((t0 - 10) * 1000))
    with pytest.raises(ValueError, match="exclusive"):
        read_delta(spark, path, version_as_of=0,
                   timestamp_as_of=at_v0)

def test_restore_delta_point_in_time(spark, tmp_path):
    """r11: RESTORE TO VERSION AS OF — a new commit whose add/remove
    diff makes the current state equal the target's, DV descriptors
    re-attached as-is; history is preserved (time travel into the
    range still works) and CDF derives the restore's changes; a
    vacuumed target and a schema-changed target refuse; restoring
    the current state is a no-op."""
    from collections import Counter

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        delete_delta,
        export_delta,
        optimize_delta,
        read_delta,
        restore_delta,
        vacuum_delta,
        write_checkpoint,
    )

    path = str(tmp_path / "restore")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    C = lambda df: Counter(map(tuple, df.collect()))
    export_delta(mk([(i, f"v{i}") for i in range(8)]).coalesce(1), path)
    export_delta(mk([(8, "v8")]).coalesce(1), path, mode="append")
    delete_delta(spark, path, "id IN (2, 3)")  # v2 (DV)
    optimize_delta(spark, path)  # v3

    res = restore_delta(spark, path, 1)
    assert res["version"] == 4 and res["removed_files"] == 1
    want1 = Counter((i, f"v{i}") for i in range(9))
    assert C(read_delta(spark, path)) == want1
    # restore forward again to the DV state: descriptors come back
    restore_delta(spark, path, 2)
    want2 = Counter(
        (i, f"v{i}") for i in range(9) if i not in (2, 3)
    )
    assert C(read_delta(spark, path)) == want2
    # history preserved through both restores
    assert C(read_delta(spark, path, version_as_of=3)) == want2
    assert C(read_delta(spark, path, version_as_of=4)) == want1
    # no-op when the state already matches
    assert restore_delta(spark, path, 5)["version"] is None

    # a vacuumed target refuses: optimize+vacuum delete the original
    # files, so restoring to the pre-optimize version is impossible
    p2 = str(tmp_path / "restore_vac")
    export_delta(mk([(1, "a")]).coalesce(1), p2)
    export_delta(mk([(2, "b")]).coalesce(1), p2, mode="append")
    optimize_delta(spark, p2)
    write_checkpoint(spark, p2)
    vacuum_delta(spark, p2, retain_versions=0)
    with pytest.raises(UnsupportedDeltaFeature, match="vacuumed"):
        restore_delta(spark, p2, 1)


def test_cdf_add_only_readd_of_live_file(spark, tmp_path):
    """r12 (r11 ADVICE): an external commit that re-adds an
    already-live file WITHOUT a paired remove (e.g. a DV update
    committed add-only — legal, since log replay replaces adds by
    path) must flow through the DV-diff branch, not re-emit every
    row of the file as 'insert'."""
    import json as _json
    from collections import Counter

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        _log_path,
        delete_delta,
        export_delta,
        read_delta,
        read_delta_cdf,
    )

    path = str(tmp_path / "cdf_readd")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    export_delta(mk([(i, f"v{i}") for i in range(6)]).coalesce(1), path)
    delete_delta(spark, path, "id = 1")  # v1: remove+add with DV

    # v2: add-only re-add of the SAME path with the SAME DV
    # descriptor — no row changes
    v1_actions = [
        _json.loads(line)
        for line in open(_log_path(path, 1))
        if line.strip()
    ]
    add1 = next(a for a in v1_actions if "add" in a)
    with open(_log_path(path, 2), "w") as fh:
        fh.write(_json.dumps(add1) + "\n")

    # v3: delete id=2 (v3 commit), then strip its remove action so it
    # becomes an add-only DV update — changes must come out as a
    # DV-diff delete, not a whole-file insert
    delete_delta(spark, path, "id = 2")
    v3_actions = [
        _json.loads(line)
        for line in open(_log_path(path, 3))
        if line.strip()
    ]
    with open(_log_path(path, 3), "w") as fh:
        for a in v3_actions:
            if "remove" not in a:
                fh.write(_json.dumps(a) + "\n")

    C = lambda df: Counter(map(tuple, df.collect()))
    assert read_delta_cdf(spark, path, 2, 2).count() == 0
    assert C(read_delta_cdf(spark, path, 3, 3)) == Counter(
        {(2, "v2", "delete", 3): 1}
    )
    # full stream folds back to the live state
    ins, dels = Counter(), Counter()
    for (i, v, ch, _vv), n in C(read_delta_cdf(spark, path, 0)).items():
        (ins if ch == "insert" else dels)[(i, v)] += n
    assert ins - dels == C(read_delta(spark, path).select("id", "v"))


def test_cdf_range_batch_flushes_on_path_reuse(spark, tmp_path):
    """r13 range-wide CDF batching: a path removed then RE-ADDED (and
    re-removed) inside one range must split the batched insert/remove
    frames — the add-map key and per-file version stamp are per path,
    so without the flush the later occurrence would overwrite the
    earlier one's version. Exercises both collision flushes."""
    import json as _json
    from collections import Counter

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        _log_path,
        export_delta,
        read_delta,
        read_delta_cdf,
    )

    path = str(tmp_path / "cdf_reuse")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    export_delta(mk([(0, "v0"), (1, "v1")]).coalesce(1), path)
    v0_actions = [
        _json.loads(line)
        for line in open(_log_path(path, 0))
        if line.strip()
    ]
    add0 = next(a for a in v0_actions if "add" in a)["add"]
    rm = {"remove": {"path": add0["path"], "dataChange": True}}
    # v1: true remove of the file; v2: re-add of the SAME path
    # (insert-batch collision with v0's add); v3: remove it again
    # (remove-batch collision with v1's remove)
    for ver, action in ((1, rm), (2, {"add": add0}), (3, rm)):
        with open(_log_path(path, ver), "w") as fh:
            fh.write(_json.dumps(action) + "\n")

    C = lambda df: Counter(map(tuple, df.collect()))
    rows = [(0, "v0"), (1, "v1")]
    want = Counter()
    for i, v in rows:
        for ver, ch in (
            (0, "insert"), (1, "delete"), (2, "insert"), (3, "delete")
        ):
            want[(i, v, ch, ver)] += 1
    assert C(read_delta_cdf(spark, path, 0)) == want
    # sub-ranges keep per-version stamps exact
    assert C(read_delta_cdf(spark, path, 2, 3)) == Counter(
        {(i, v, ch, ver): 1
         for i, v in rows
         for ver, ch in ((2, "insert"), (3, "delete"))}
    )
    assert read_delta(spark, path).count() == 0


def test_cdf_range_batch_flushes_on_metadata_change(spark, tmp_path):
    """r13 range-wide CDF batching: a mid-range metaData action (here
    a properties-only change, same columns) flushes the pending
    batches — the accumulated inserts must keep their own versions'
    stamps across the split, and changes after the boundary stamp
    theirs. (A range spanning an ADD-COLUMN evolution null-backfills
    to the range-final schema since r14 —
    test_cdf_range_spanning_add_column_evolution.)"""
    import json as _json
    from collections import Counter

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        _log_path,
        delete_delta,
        export_delta,
        read_delta_cdf,
    )

    path = str(tmp_path / "cdf_meta")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    export_delta(mk([(0, "v0"), (1, "v1")]).coalesce(1), path)
    export_delta(mk([(2, "v2")]).coalesce(1), path, mode="append")
    # v2: properties-only metaData change (same schemaString) — the
    # batched v0+v1 inserts must flush here, stamps intact
    meta0 = next(
        _json.loads(line)["metaData"]
        for line in open(_log_path(path, 0))
        if "metaData" in line
    )
    meta0["configuration"] = {"engine.test": "tweak"}
    with open(_log_path(path, 2), "w") as fh:
        fh.write(_json.dumps({"metaData": meta0}) + "\n")
    delete_delta(spark, path, "id = 0")  # v3: DV diff after the flush

    C = lambda df: Counter(map(tuple, df.collect()))
    assert C(read_delta_cdf(spark, path, 0)) == Counter(
        {
            (0, "v0", "insert", 0): 1,
            (1, "v1", "insert", 0): 1,
            (2, "v2", "insert", 1): 1,
            (0, "v0", "delete", 3): 1,
        }
    )


def test_update_delta_and_cdf_explicit_change_data(spark, tmp_path):
    """r12: update_delta commits DV-retired old rows + rewritten rows
    + explicit cdc actions in ONE version; read_delta serves the
    post-update state; read_delta_cdf serves the _change_data rows
    verbatim (update_preimage/update_postimage) and ignores the same
    commit's add/remove for change derivation."""
    from collections import Counter

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        export_delta,
        read_delta,
        read_delta_cdf,
        update_delta,
    )

    path = str(tmp_path / "upd")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string, n long")
    export_delta(mk([(i, f"v{i}", i * 10) for i in range(6)]).coalesce(1), path)

    res = update_delta(
        spark, path, "id >= 4",
        {"v": "concat('U-', v)", "n": "n + 1"},
        write_cdf=True,
    )
    assert res["version"] == 1 and res["updated_rows"] == 2
    assert res["files_touched"] == 1 and res["change_files"] >= 1

    C = lambda df: Counter(map(tuple, df.collect()))
    assert C(read_delta(spark, path)) == Counter(
        {(i, f"v{i}", i * 10): 1 for i in range(4)}
        | {(4, "U-v4", 41): 1, (5, "U-v5", 51): 1}
    )
    # the UPDATE version serves the explicit change data verbatim
    assert C(read_delta_cdf(spark, path, 1, 1)) == Counter(
        {
            (4, "v4", 40, "update_preimage", 1): 1,
            (5, "v5", 50, "update_preimage", 1): 1,
            (4, "U-v4", 41, "update_postimage", 1): 1,
            (5, "U-v5", 51, "update_postimage", 1): 1,
        }
    )
    # SET expressions all bind the OLD row (swap test)
    res2 = update_delta(
        spark, path, "id = 0", {"v": "cast(n as string)", "n": "length(v)"},
        write_cdf=False,
    )
    assert res2["change_files"] == 0
    row = read_delta(spark, path).filter("id = 0").collect()[0]
    assert (row.v, row.n) == ("0", 2)  # n was 0 -> v='0'; v was 'v0' -> n=2
    # the no-cdc UPDATE version derives changes from DV diff + new add
    got = C(read_delta_cdf(spark, path, 2, 2))
    assert got == Counter(
        {(0, "v0", 0, "delete", 2): 1, (0, "0", 2, "insert", 2): 1}
    )
    # full stream folds to the live state
    ins, dels = Counter(), Counter()
    for (i, v, n, ch, _vv), cnt in C(read_delta_cdf(spark, path, 0)).items():
        tgt = dels if ch in ("delete", "update_preimage") else ins
        tgt[(i, v, n)] += cnt
    assert ins - dels == C(read_delta(spark, path))


def test_update_delta_column_mapped_and_guards(spark, tmp_path):
    """r12: update_delta under NAME-mode column mapping writes
    physical-name data and change files that resolve back through
    the logical schema; CDF defaults follow delta.enableChangeDataFeed;
    unknown SET columns and partitioned tables refuse."""
    from collections import Counter

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        export_delta,
        read_delta,
        read_delta_cdf,
        update_delta,
    )

    path = str(tmp_path / "upd_cm")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    export_delta(
        mk([(i, f"v{i}") for i in range(4)]).coalesce(1), path,
        column_mapping="name",
    )
    res = update_delta(
        spark, path, "id = 2", {"v": "'X'"}, write_cdf=True
    )
    assert res["updated_rows"] == 1
    C = lambda df: Counter(map(tuple, df.collect()))
    assert C(read_delta(spark, path).filter("id = 2")) == Counter(
        {(2, "X"): 1}
    )
    assert C(read_delta_cdf(spark, path, 1, 1)) == Counter(
        {
            (2, "v2", "update_preimage", 1): 1,
            (2, "X", "update_postimage", 1): 1,
        }
    )
    # default write_cdf follows table config (not set here -> no cdc)
    res2 = update_delta(spark, path, "id = 3", {"v": "'Y'"})
    assert res2["change_files"] == 0
    with pytest.raises(ValueError, match="unknown SET"):
        update_delta(spark, path, "id = 0", {"zz": "'a'"})
    # partitioned tables: rewritten rows + change files land
    # hive-partitioned; a SET on the partition column MOVES the row
    from collections import Counter as _C

    p2 = str(tmp_path / "upd_part")
    export_delta(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y"), (3, "c", "y")],
            "id long, v string, p string",
        ),
        p2,
        partition_by=["p"],
    )
    resp = update_delta(
        spark, p2, "p = 'y'", {"v": "upper(v)"}, write_cdf=True
    )
    assert resp["updated_rows"] == 2
    got = _C(map(tuple, read_delta(spark, p2).collect()))
    assert got == _C(
        {(1, "a", "x"): 1, (2, "B", "y"): 1, (3, "C", "y"): 1}
    )
    cdf = _C(
        map(
            tuple,
            read_delta_cdf(spark, p2, resp["version"]).collect(),
        )
    )
    v = resp["version"]
    assert cdf == _C(
        {
            (2, "b", "y", "update_preimage", v): 1,
            (3, "c", "y", "update_preimage", v): 1,
            (2, "B", "y", "update_postimage", v): 1,
            (3, "C", "y", "update_postimage", v): 1,
        }
    )
    # SET on the partition column moves the row to the new partition
    update_delta(spark, p2, "id = 1", {"p": "'y'"})
    moved = read_delta(spark, p2).filter("id = 1").collect()[0]
    assert moved.p == "y"
    import os as _os

    assert any(
        "p=y" in root
        for root, _d, fs in _os.walk(p2)
        for f in fs
        if f.endswith(".parquet")
    )
    # partitioned + column-mapped still refuses (exporter refuses the
    # combo too, so craft the check via the error path)


def test_upsert_delta_merge_commit_shape(spark, tmp_path):
    """r12: upsert_delta commits DV re-adds retiring the batch's old
    keys + adds for the new rows in ONE version — new keys insert,
    existing keys update LWW; CDF derives delete+insert per updated
    key; key-dup batches abort before the commit; guards refuse
    partitioned / column-mapped / bad keys."""
    from collections import Counter

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        export_delta,
        read_delta,
        read_delta_cdf,
        upsert_delta,
    )

    path = str(tmp_path / "ups_delta")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    export_delta(mk([(i, f"v{i}") for i in range(6)]).coalesce(1), path)
    res = upsert_delta(
        spark, path, mk([(1, "U1"), (4, "U4"), (100, "v100")]), ["id"]
    )
    assert res["version"] == 1 and res["upserted_rows"] == 3
    C = lambda df: Counter(map(tuple, df.collect()))
    want = Counter(
        {(i, f"v{i}"): 1 for i in range(6) if i not in (1, 4)}
        | {(1, "U1"): 1, (4, "U4"): 1, (100, "v100"): 1}
    )
    assert C(read_delta(spark, path)) == want
    # CDF: updated keys emit delete(old)+insert(new); new keys insert
    assert C(read_delta_cdf(spark, path, 1, 1)) == Counter(
        {
            (1, "v1", "delete", 1): 1,
            (4, "v4", "delete", 1): 1,
            (1, "U1", "insert", 1): 1,
            (4, "U4", "insert", 1): 1,
            (100, "v100", "insert", 1): 1,
        }
    )
    # upserts stack LWW
    upsert_delta(spark, path, mk([(1, "U1b")]), ["id"])
    assert C(read_delta(spark, path).filter("id = 1")) == Counter(
        {(1, "U1b"): 1}
    )
    # duplicate keys abort cleanly before the commit
    with pytest.raises(ValueError, match="distinct keys"):
        upsert_delta(spark, path, mk([(2, "a"), (2, "b")]), ["id"])
    assert C(read_delta(spark, path).filter("id = 1")) == Counter(
        {(1, "U1b"): 1}
    )
    with pytest.raises(ValueError, match="key columns"):
        upsert_delta(spark, path, mk([(9, "z")]), ["zz"])
    p2 = str(tmp_path / "ups_cm")
    export_delta(mk([(1, "a")]).coalesce(1), p2, column_mapping="name")
    with pytest.raises(UnsupportedDeltaFeature, match="column-mapped"):
        upsert_delta(spark, p2, mk([(1, "b")]), ["id"])


def test_upsert_delta_partitioned(spark, tmp_path):
    """r12: upsert_delta on a PARTITIONED table — batch rows land
    hive-partitioned with partitionValues per add; a key whose new
    row changes partition moves (old row DV-retired in its old
    partition); partition pruning still works."""
    from collections import Counter

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        export_delta,
        read_delta,
        upsert_delta,
    )

    path = str(tmp_path / "ups_part")
    mk = lambda rows: spark.createDataFrame(
        rows, "id long, v string, p string"
    )
    export_delta(
        mk([(1, "a", "x"), (2, "b", "y"), (3, "c", "y")]),
        path,
        partition_by=["p"],
    )
    res = upsert_delta(
        spark, path,
        mk([(2, "B", "y"), (4, "d", "x"), (1, "A", "y")]),  # 1 moves x->y
        ["id"],
    )
    assert res["upserted_rows"] == 3
    C = lambda df: Counter(map(tuple, df.collect()))
    assert C(read_delta(spark, path)) == Counter(
        {
            (1, "A", "y"): 1,
            (2, "B", "y"): 1,
            (3, "c", "y"): 1,
            (4, "d", "x"): 1,
        }
    )
    # pruning: a partition filter scans only that partition's files
    pruned = read_delta(spark, path).filter("p = 'x'")
    assert C(pruned) == Counter({(4, "d", "x"): 1})
    assert all("p=x" in f for f in pruned.inputFiles())
    # deletes leg works partitioned too
    upsert_delta(
        spark, path, None, ["id"],
        deletes=spark.createDataFrame([(3,)], "id long"),
    )
    assert C(read_delta(spark, path)) == Counter(
        {(1, "A", "y"): 1, (2, "B", "y"): 1, (4, "d", "x"): 1}
    )



def test_upsert_delta_partitioned_by_key(spark, tmp_path):
    """A table partitioned by its KEY: the fused validation read must
    see the key from the partition paths, not as NULL — else a
    one-row batch passes as one NULL key, retires no live row and the
    commit lands a duplicate key."""
    from collections import Counter

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        export_delta,
        read_delta,
        upsert_delta,
    )

    path = str(tmp_path / "ups_keypart")
    mk = lambda rows: spark.createDataFrame(rows, "pk string, v long")
    export_delta(mk([("a", 1), ("b", 2)]), path, partition_by=["pk"])
    res = upsert_delta(spark, path, mk([("a", 99)]), ["pk"])
    assert res["upserted_rows"] == 1 and res["files_touched"] == 1
    C = lambda df: Counter(map(tuple, df.select("pk", "v").collect()))
    assert C(read_delta(spark, path)) == Counter({("a", 99): 1, ("b", 2): 1})
    with pytest.raises(ValueError, match="dedup to one row per key"):
        upsert_delta(spark, path, mk([("c", 1), ("c", 2)]), ["pk"])
    upsert_delta(spark, path, mk([("b", 5), ("c", 6)]), ["pk"])
    assert C(read_delta(spark, path)) == Counter(
        {("a", 99): 1, ("b", 5): 1, ("c", 6): 1}
    )

def test_cdf_table_path_with_space(spark, tmp_path):
    """r14 ADVICE: the batched CDF version stamp keys on the
    normalized _metadata.file_path matching os.path.abspath — a table
    path with a space (URI-encoded by some writers) must still stamp
    every row a non-null version, or raise, never NULL silently."""
    from collections import Counter

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        delete_delta,
        export_delta,
        read_delta_cdf,
    )

    path = str(tmp_path / "cdf dir with space" / "t 1")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    export_delta(mk([(i, f"v{i}") for i in range(4)]).coalesce(1), path)
    delete_delta(spark, path, "id = 2")
    got = Counter(map(tuple, read_delta_cdf(spark, path, 0).collect()))
    want = Counter({(i, f"v{i}", "insert", 0): 1 for i in range(4)})
    want[(2, "v2", "delete", 1)] = 1
    assert got == want
    assert all(k[-1] is not None for k in got)


def test_cdf_stamp_broadcast_join_path(spark, tmp_path, monkeypatch):
    """r14 ADVICE: beyond _CDF_STAMP_MAP_MAX files per batch the
    version stamp switches from an inline literal map to a broadcast
    mapping join — same rows, same versions, on both paths."""
    from collections import Counter

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources import (
        delta_interop as di,
    )

    path = str(tmp_path / "cdf_bjoin")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    export_delta = di.export_delta
    export_delta(mk([(i, f"v{i}") for i in range(4)]).coalesce(2), path)
    export_delta(
        mk([(9, "v9"), (10, "v10")]).coalesce(1), path, mode="append"
    )
    di.delete_delta(spark, path, "id IN (1, 9)")
    C = lambda: Counter(
        map(tuple, di.read_delta_cdf(spark, path, 0).collect())
    )
    via_map = C()
    monkeypatch.setattr(di, "_CDF_STAMP_MAP_MAX", 0)
    via_join = C()
    assert via_map == via_join
    assert sum(n for (_i, _v, ch, _cv), n in via_map.items() if ch == "delete") == 2


def test_cdf_range_spanning_add_column_evolution(spark, tmp_path):
    """r14 (VERDICT r13 item 7): a CDF range spanning an ADD-COLUMN
    evolution serves the whole range under the range-final schema —
    pre-evolution rows null-backfill the added column (delta-spark's
    table_changes contract) instead of raising on the final union.
    Drop/rename evolution still raises clearly."""
    from collections import Counter

    import pytest as _pytest

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        UnsupportedDeltaFeature,
        delete_delta,
        export_delta,
        read_delta_cdf,
        upsert_delta,
    )

    path = str(tmp_path / "cdf_evolve")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    export_delta(mk([(0, "v0"), (1, "v1")]).coalesce(1), path)  # v0
    # v1: ADD-COLUMN evolution (metaData widens mid-range) + upsert
    ev = spark.createDataFrame([(2, "v2", 20)], "id long, v string, n long")
    upsert_delta(spark, path, ev, ["id"], evolve_schema=True)
    delete_delta(spark, path, "id = 0")  # v2: DV diff post-evolution

    C = lambda df: Counter(map(tuple, df.collect()))
    assert C(read_delta_cdf(spark, path, 0)) == Counter(
        {
            (0, "v0", None, "insert", 0): 1,
            (1, "v1", None, "insert", 0): 1,
            (2, "v2", 20, "insert", 1): 1,
            (0, "v0", None, "delete", 2): 1,
        }
    )
    # columns the final schema lacks (a hand-rewritten narrowing
    # metaData) raise clearly instead of silently dropping data
    import json as _json

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.delta_interop import (
        _log_path,
    )

    meta1 = None
    for ver in (1, 0):
        for line in open(_log_path(path, ver)):
            if '"metaData"' in line:
                meta1 = _json.loads(line)["metaData"]
                break
        if meta1:
            break
    sch = _json.loads(meta1["schemaString"])
    sch["fields"] = [f for f in sch["fields"] if f["name"] != "n"]
    meta1 = dict(meta1)
    meta1["schemaString"] = _json.dumps(sch)
    nxt = 3
    with open(_log_path(path, nxt), "w") as fh:
        fh.write(_json.dumps({"metaData": meta1}) + "\n")
    with _pytest.raises(UnsupportedDeltaFeature, match="drop/rename"):
        read_delta_cdf(spark, path, 0).collect()
