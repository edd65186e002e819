"""Apache Iceberg table-format interop — reader and exporter, from
the public spec (https://iceberg.apache.org/spec/) only.

Completes the lakehouse-format trio (Delta: ``delta_interop``, Hudi:
``hudi_interop``): the engine can MOUNT an Iceberg table written by
Spark/Flink/Trino with a filesystem (Hadoop) catalog layout, and
EXPORT any DataFrame as a v1 Iceberg table those engines can mount.

The metadata tree is walked exactly as the spec defines it:

- ``metadata/version-hint.text`` (or the highest ``vN.metadata.json``)
  names the current table metadata;
- the metadata JSON carries schemas, partition specs, and the
  snapshot log; each snapshot points at a MANIFEST LIST (Avro);
- the manifest list names MANIFEST FILES (Avro), each of which lists
  data files with a status (EXISTING/ADDED/DELETED) and per-file
  stats; live files = entries whose status != DELETED reachable from
  the chosen snapshot;
- data files are plain parquet → one pruned ``spark.read.parquet``
  over exactly the live files, pushdown untouched.

The Avro layer is ``avro_codec`` (stdlib-only, schema-driven off the
embedded writer schema), so v1 and v2 manifest layouts both decode.
v2 row-level deletes (merge-on-read) are applied at read time:

- POSITION deletes are parquet of (file_path, pos); the data scan
  exposes Spark's parquet ``_metadata.file_path`` / ``row_index``
  hidden columns, and one distributed anti-join on the normalized
  (file, pos) pair drops the deleted rows — no driver
  materialization, the same shape an Iceberg runtime's MoR scan has.
- EQUALITY deletes are parquet of the ``equality_ids`` columns'
  values; each is anti-joined null-safely on those columns, scoped by
  SEQUENCE NUMBERS (spec inheritance: manifest-list seq when the
  entry's is null) — the delete applies only to data files with a
  strictly smaller sequence number, so later re-inserts survive.

Both delete kinds are sequence-number scoped per the spec: a
position delete applies to data files with seq <= the delete's seq,
an equality delete to data files with seq strictly smaller — so a
data file REWRITTEN at the same path after the delete (higher seq)
serves all its rows. Remaining gate: an equality delete whose
``equality_ids`` can't be resolved against the table schema raises
rather than resurrecting rows.

Writers (export append, ``rewrite_manifests``, ``rewrite_data_files``,
``delete_iceberg``, ``update_iceberg``, ``upsert_iceberg``) share ONE
commit path: ``_open_parent`` reads the metadata, its version and the
parent snapshot (branch head or current); ``_manifest_entry_schema``,
``_added_entry`` and ``_write_manifest`` write the new manifests;
``_manifest_list_row`` fills their rows against the table's own list
schema; ``_commit_snapshot`` writes ``snap-<id>.avro`` and appends the
snapshot on main or on a branch through ``_commit_metadata``'s
put-if-absent. Only the initial export writes ``v1.metadata.json``
itself.

Scale notes: the metadata walk touches only KB-scale Avro files
driver-side (the same footprint every Iceberg client has — that IS
Iceberg's design: metadata small enough to read, data enumerated
without listing); the data scan is Spark-native.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .avro_codec import read_avro, write_avro


class UnsupportedIcebergFeature(RuntimeError):
    """Table requires features beyond this reader (e.g. delete files)."""


_META_DIR = "metadata"


# -- reader -----------------------------------------------------------------


def _current_metadata_path(path: str) -> str:
    md = os.path.join(path, _META_DIR)
    hint = os.path.join(md, "version-hint.text")
    if os.path.exists(hint):
        v = open(hint).read().strip()
        cand = os.path.join(md, f"v{v}.metadata.json")
        if os.path.exists(cand):
            return cand
    versions = []
    for f in os.listdir(md):
        m = re.match(r"v(\d+)\.metadata\.json$", f)
        if m:
            versions.append((int(m.group(1)), f))
    if not versions:
        raise FileNotFoundError(f"no vN.metadata.json under {md}")
    return os.path.join(md, max(versions)[1])


def _resolve(path_in_meta: str, table_path: str) -> str:
    """Manifest/data paths in metadata are absolute URIs from the
    writing environment; re-root them at the local table path so a
    copied/downloaded table still resolves."""
    p = path_in_meta
    if "://" in p:  # strip scheme + authority
        rest = p.split("://", 1)[1]
        p = "/" + rest.split("/", 1)[1] if "/" in rest else rest
    if not os.path.isabs(p):  # relative paths resolve against the table
        return os.path.join(table_path, p)
    if os.path.exists(p):
        return p
    # re-root at the table-relative tail (metadata/ or data/)
    for anchor in ("/metadata/", "/data/"):
        if anchor in p:
            return os.path.join(
                table_path, anchor.strip("/"), p.split(anchor, 1)[1]
            )
    return os.path.join(table_path, os.path.basename(p))


def live_data_files(
    path: str, snapshot_id: int | None = None
) -> list[str]:
    """Data-file paths reachable from the chosen snapshot (default:
    current), with DELETED manifest entries dropped. Position- and
    equality-delete files are ignored here (``read_iceberg`` applies
    them)."""
    return sorted(v for v, _, _ in _live_files(path, snapshot_id)[0].values())


def _current_schema(path: str) -> dict:
    """The CURRENT schema struct from the table metadata."""
    meta = json.load(open(_current_metadata_path(path)))
    sch = meta.get("schema")
    if not sch:
        sid = meta.get("current-schema-id")
        sch = next(
            (
                s
                for s in meta.get("schemas", [])
                if s.get("schema-id") == sid
            ),
            None,
        )
    return sch or {}


def _table_columns(path: str) -> list[str]:
    """The CURRENT schema's column names, in declared order."""
    return [f["name"] for f in _current_schema(path).get("fields", [])]


_ICEBERG_TO_SPARK = {
    "long": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamptz": "timestamp",
    "binary": "binary",
    "uuid": "string",
}


def _table_schema_ddl(path: str, schema_id: int | None = None) -> str | None:
    """Spark DDL for an Iceberg schema — the CURRENT one by default,
    or the schema with the given ``schema-id`` (a snapshot's recorded
    schema, for time travel across evolution). None when a field type
    has no Spark mapping (caller falls back to a file scan)."""
    if schema_id is not None:
        meta = json.load(open(_current_metadata_path(path)))
        sch = next(
            (
                s
                for s in meta.get("schemas", [])
                if s.get("schema-id") == schema_id
            ),
            None,
        )
        fields = (sch or _current_schema(path)).get("fields", [])
    else:
        fields = _current_schema(path).get("fields", [])
    if not fields:
        return None
    parts = []
    for f in fields:
        t = f.get("type")
        if not isinstance(t, str):
            return None  # nested struct/list/map: let the scan decide
        spark_t = _ICEBERG_TO_SPARK.get(
            t, t if t.startswith("decimal(") else None
        )
        if spark_t is None:
            return None
        parts.append(f"`{f['name']}` {spark_t}")
    return ", ".join(parts)


def _field_names_by_id(meta: dict) -> dict[int, str]:
    schemas = meta.get("schemas") or (
        [meta["schema"]] if meta.get("schema") else []
    )
    out: dict[int, str] = {}
    for sch in schemas:
        for f in sch.get("fields", []):
            out[f["id"]] = f["name"]
    return out


def _fields_by_id(meta: dict) -> dict[int, tuple[str, str]]:
    """field id -> (name, primitive iceberg type) from the table's
    schemas (nested types are skipped — bounds pruning covers
    primitives only)."""
    schemas = meta.get("schemas") or (
        [meta["schema"]] if meta.get("schema") else []
    )
    out: dict[int, tuple[str, str]] = {}
    for sch in schemas:
        for f in sch.get("fields", []):
            if isinstance(f.get("type"), str):
                out[f["id"]] = (f["name"], f["type"])
    return out


def _decode_entry_stats(df_rec: dict, meta: dict) -> dict:
    """One manifest entry's stats maps -> the ``filestats`` record
    shape ``{"numRecords", "min", "max", "nulls"}`` with bounds
    decoded per spec Appendix D. Absent/undecodable maps yield a
    boundless record (never prunes)."""
    fields = _fields_by_id(meta)

    def as_map(v) -> dict:
        if not v:
            return {}
        return {e["key"]: e["value"] for e in v}

    lo, hi = as_map(df_rec.get("lower_bounds")), as_map(
        df_rec.get("upper_bounds")
    )
    nulls_raw = as_map(df_rec.get("null_value_counts"))
    out: dict = {
        "numRecords": df_rec.get("record_count"),
        "min": {},
        "max": {},
        "nulls": {},
    }
    for fid, (name, t) in fields.items():
        if fid in lo and fid in hi:
            mn = _single_value_from_bytes(t, bytes(lo[fid]))
            mx = _single_value_from_bytes(t, bytes(hi[fid]))
            if mn is not None and mx is not None:
                out["min"][name] = mn
                out["max"][name] = mx
        if fid in nulls_raw:
            out["nulls"][name] = int(nulls_raw[fid])
    return out


def _live_files(
    path: str,
    snapshot_id: int | None = None,
    with_stats: bool = False,
) -> tuple[
    dict[str, tuple[str, int]],
    list[tuple[str, int]],
    list[tuple[str, int, list[str]]],
]:
    """({recorded_data_path: (resolved_local_path, data_seq,
    partition_struct)},
    [(position_delete_file, delete_seq)], [(equality_delete_file,
    delete_seq, equality_column_names)]) reachable from the chosen
    snapshot. The
    recorded form is kept because position-delete rows reference data
    files by the URI the WRITER recorded, not by our re-rooted local
    path. v2 manifest-list entries carry ``content`` (0 data /
    1 deletes) and a ``sequence_number``; manifest entries inherit it
    when their own is null (the spec's sequence-number inheritance).

    ``with_stats=True`` (new r13) extends each data value to a
    4-tuple whose last element is a ``filestats``-shaped record
    decoded from the entry's per-file stats maps (record_count +
    null_value_counts + Appendix-D lower/upper bounds, field ids
    resolved to names/types via the CURRENT schema) — the input
    ``read_iceberg(bounds_filter=...)`` prunes on. Entries written
    without stats decode to boundless records that never prune."""
    meta = json.load(open(_current_metadata_path(path)))
    snaps = meta.get("snapshots", [])
    if not snaps:
        return {}, [], []
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    snap = next(
        (s for s in snaps if s["snapshot-id"] == snapshot_id), None
    )
    if snap is None:
        raise ValueError(f"snapshot {snapshot_id} not in table metadata")
    names_by_id = _field_names_by_id(meta)
    mlist_path = _resolve(snap["manifest-list"], path)
    _, manifests = read_avro(mlist_path)
    data: dict[str, tuple[str, int]] = {}
    pos_deletes: list[tuple[str, int]] = []
    eq_deletes: list[tuple[str, int, list[str]]] = []
    fmt_version = int(meta.get("format-version", 1))
    for m in manifests:
        m_seq = m.get("sequence_number") or 0
        _, entries = read_avro(_resolve(m["manifest_path"], path))
        for e in entries:
            if e.get("status") == 2:  # DELETED
                continue
            df_rec = e["data_file"]
            seq = e.get("sequence_number")
            if seq is None:
                # spec: sequence-number inheritance applies to ADDED
                # (status=1) entries only; an EXISTING entry carried
                # forward with a null seq in a v2 manifest would get
                # an inflated number and escape equality deletes that
                # should still apply to it
                if fmt_version < 2 or e.get("status") == 1:
                    seq = m_seq
                else:
                    raise UnsupportedIcebergFeature(
                        "EXISTING manifest entry with null "
                        "sequence_number in a v2 manifest"
                    )
            content = df_rec.get("content", 0) or m.get("content", 0)
            fmt = (df_rec.get("file_format") or "PARQUET").upper()
            if fmt != "PARQUET":
                raise UnsupportedIcebergFeature(
                    f"data file format {fmt} (parquet only)"
                )
            if content == 0:
                val = (
                    _resolve(df_rec["file_path"], path),
                    int(seq),
                    dict(df_rec.get("partition") or {}),
                )
                if with_stats:
                    val += (_decode_entry_stats(df_rec, meta),)
                data[df_rec["file_path"]] = val
            elif content == 1:
                pos_deletes.append(
                    (_resolve(df_rec["file_path"], path), int(seq))
                )
            else:  # equality deletes
                ids = df_rec.get("equality_ids") or []
                cols = [names_by_id[i] for i in ids if i in names_by_id]
                if not cols or len(cols) != len(ids):
                    raise UnsupportedIcebergFeature(
                        "equality delete file without resolvable "
                        "equality_ids field names"
                    )
                eq_deletes.append(
                    (_resolve(df_rec["file_path"], path), int(seq), cols)
                )
    return data, sorted(set(pos_deletes)), eq_deletes


def _zero_row_frame(
    spark: SparkSession, path: str, all_files: list[str]
) -> DataFrame:
    """Metadata proved no file can match: build the zero-row frame
    from the TABLE SCHEMA in the metadata file — a
    ``parquet(*all_files).limit(0)`` would list and open the footers
    of every non-matching file, which at 100 TB defeats the point of
    manifest pruning."""
    ddl = _table_schema_ddl(path)
    if ddl is not None:
        return spark.createDataFrame([], ddl)
    # unmappable/nested type: fall back to a footer-schema scan with
    # the SAME projection a non-empty read gets (the shadow _p_* dirs
    # must not leak here either)
    df = spark.read.option("basePath", path).parquet(*all_files).limit(0)
    tbl_cols = _table_columns(path)
    keep = [c for c in tbl_cols if c in df.columns]
    if keep and set(keep) != set(df.columns):
        df = df.select(*keep)
    return df


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    as_of_timestamp_ms: int | None = None,
    ref: str | None = None,
    bounds_filter=None,
) -> DataFrame:
    """Mount an Iceberg table (filesystem catalog layout) as a
    DataFrame; ``snapshot_id`` time-travels over the snapshot log,
    ``as_of_timestamp_ms`` (new r11 — Java's ``as-of-timestamp``)
    resolves to the snapshot that was CURRENT at that instant via the
    metadata's ``snapshot-log`` (falling back to the snapshots' own
    ``timestamp-ms`` for metadata without a log; a timestamp before
    the first snapshot raises), and ``ref`` (new r11) reads a named
    tag from the v2 ``refs`` map.

    ``partition_filter`` ({partition_field_name: value}) prunes the
    FILE LIST from the manifests' per-file ``partition`` structs
    before any scan is planned — the metadata-level pruning Iceberg
    planners do, which at 100 TB means never opening the footers of
    the non-matching files (a post-hoc DataFrame filter would still
    list and stat every file). Keys must name partition fields
    recorded in the manifests; unknown keys raise.

    ``bounds_filter`` (new r13) is the SECOND metadata pruning level:
    a list of ``(column, op, value)`` predicate tuples (ANDed; ops
    ``== != < <= > >=`` plus ``is_null``/``not_null`` — the explicit
    no-parser shape of ``operators/skipindex.py``). Data files whose
    manifest-entry ``lower_bounds``/``upper_bounds``/
    ``null_value_counts`` maps (written by
    ``export_iceberg(stats=True)``, spec Appendix D) PROVE no row
    can match are dropped before the scan is planned. Entries
    without stats always survive. The surviving scan holds EVERY row
    matching the predicate (only provably non-matching files drop),
    so ``result.filter(pred)`` equals the full read's — use
    ``read_iceberg_pruned``, which layers exactly that residual
    filter on top.

    v2 row-level deletes are applied distributedly:

    - POSITION deletes: the data scan adds Spark's hidden parquet
      ``_metadata.file_path`` / ``row_index`` columns, the delete
      side is a pruned parquet scan of the (file_path, pos) delete
      files joined through a BROADCAST recorded-URI -> local-path
      mapping (one row per data file — metadata scale), and one
      anti-join on (file, pos, data_seq <= delete_seq) drops deleted
      rows — a data file rewritten at the same path AFTER the delete
      (higher seq) serves all its rows, per the spec's scoping rule.
      Row positions never pass through the driver.
    - EQUALITY deletes: each delete file's rows are anti-joined
      null-safely on its ``equality_ids`` columns, scoped by the
      spec's sequence numbers — a delete applies only to data files
      with a STRICTLY SMALLER sequence number, so rows re-inserted
      after the delete survive. The seq comparison rides the same
      broadcast file mapping."""
    from pyspark.sql import functions as F

    if ref is not None:
        if snapshot_id is not None or as_of_timestamp_ms is not None:
            raise ValueError(
                "ref is exclusive with snapshot_id/as_of_timestamp_ms"
            )
        meta = json.load(open(_current_metadata_path(path)))
        r = (meta.get("refs") or {}).get(ref)
        if r is None:
            raise ValueError(f"ref {ref!r} not in table metadata")
        snapshot_id = r.get("snapshot-id")
    if as_of_timestamp_ms is not None:
        if snapshot_id is not None:
            raise ValueError(
                "snapshot_id and as_of_timestamp_ms are exclusive"
            )
        meta = json.load(open(_current_metadata_path(path)))
        # r11 ADVICE: a snapshot with no timestamp-ms must NOT default
        # to epoch 0 in the fallback log — that would make it eligible
        # for ANY timestamp and could silently win the as-of
        # resolution. Skip such snapshots; if none remain, the
        # eligibility check below raises.
        log = meta.get("snapshot-log") or [
            {
                "timestamp-ms": s["timestamp-ms"],
                "snapshot-id": s["snapshot-id"],
            }
            for s in meta.get("snapshots", [])
            if s.get("timestamp-ms") is not None
        ]
        log = sorted(log, key=lambda e: e["timestamp-ms"])
        eligible = [
            e for e in log if e["timestamp-ms"] <= as_of_timestamp_ms
        ]
        if not eligible:
            raise ValueError(
                f"as_of_timestamp_ms {as_of_timestamp_ms} precedes "
                "the first snapshot"
            )
        snapshot_id = eligible[-1]["snapshot-id"]
    mapping, pos_files, eq_deletes = _live_files(
        path, snapshot_id, with_stats=bool(bounds_filter)
    )
    if not mapping:
        raise FileNotFoundError(
            f"Iceberg table at {path} has no live data files"
        )
    if bounds_filter:
        from .filestats import file_survives

        all_files = sorted(v[0] for v in mapping.values())
        mapping = {
            k: v[:3]
            for k, v in mapping.items()
            if file_survives(bounds_filter, v[3])
        }
        if not mapping:
            return _zero_row_frame(spark, path, all_files)
    if partition_filter:
        known = set().union(*(p.keys() for _, _, p in mapping.values()))
        bad = set(partition_filter) - known
        if bad:
            raise ValueError(
                f"partition_filter: {sorted(bad)} are not partition "
                f"fields of this table (has {sorted(known)})"
            )
        all_files = sorted(v for v, _, _ in mapping.values())
        mapping = {
            k: v
            for k, v in mapping.items()
            if all(v[2].get(c) == pv for c, pv in partition_filter.items())
        }
        if not mapping:
            return _zero_row_frame(spark, path, all_files)
    # time travel across schema evolution (r13): a snapshot that
    # recorded its schema-id reads under THAT schema (Iceberg's
    # time-travel contract); snapshots without one fall back to the
    # current schema, like the Java reader
    sch_id = None
    if snapshot_id is not None:
        meta = json.load(open(_current_metadata_path(path)))
        s = next(
            (
                x
                for x in meta.get("snapshots", [])
                if x["snapshot-id"] == snapshot_id
            ),
            None,
        )
        if s is not None:
            sch_id = s.get("schema-id")
    return _live_scan(
        spark, path, mapping, pos_files, eq_deletes, schema_id=sch_id
    )


def _live_scan(
    spark: SparkSession,
    path: str,
    mapping: dict,
    pos_files: list,
    eq_deletes: list,
    with_positions: bool = False,
    schema_id: int | None = None,
) -> DataFrame:
    """One pruned scan of a snapshot's live data files with the v2
    row-level deletes (position + equality) APPLIED — the shared
    core of :func:`read_iceberg` and the DML writers
    (:func:`delete_iceberg`, :func:`update_iceberg`), which pass
    ``with_positions=True`` to keep the normalized path / row-index
    columns (``_ice_fp``/``_ice_pos``) their predicate matching
    needs. Routing the writers through here (new r12) means a
    predicate can only ever match LIVE rows: a delete overlapping a
    prior delete no longer re-records dead positions, and an UPDATE
    can never resurrect a row a previous delete retired."""
    from pyspark.sql import functions as F

    files = sorted(v for v, _, _ in mapping.values())
    # scan under the TABLE schema when it is Spark-expressible (the
    # Iceberg planner's contract): after ADD-COLUMN schema evolution
    # (r13) the old files lack the new column and must null-backfill
    # — a footer-sampled schema would drop or keep the column
    # nondeterministically. Unmappable/nested types fall back to the
    # footer scan as before.
    ddl = _table_schema_ddl(path, schema_id)
    reader = spark.read.option("basePath", path)
    df = (
        reader.schema(ddl).parquet(*files)
        if ddl
        else reader.parquet(*files)
    )
    # basePath makes Spark infer key=value directory levels as extra
    # columns (wanted for hive-migrated tables whose files LACK the
    # partition columns; unwanted for the exporter's shadow _p_* dirs,
    # whose source columns are in the files) — project back to the
    # table schema's columns
    tbl_cols = _table_columns(path)
    keep = [c for c in tbl_cols if c in df.columns]
    if keep and set(keep) != set(df.columns):
        df = df.select(*keep)
    if not pos_files and not eq_deletes and not with_positions:
        return df
    from .parquet import local_path_expr

    cols = df.columns
    data = df.select(
        "*",
        # file:///abs/p (URI-encoded) -> /abs/p, percent-decoded to
        # match the mapping's os.path.abspath form (cf. parquet.py)
        local_path_expr(F.col("_metadata.file_path")).alias("_ice_fp"),
        F.col("_metadata.row_index").alias("_ice_pos"),
    )
    map_df = F.broadcast(
        spark.createDataFrame(
            [(k, v, s) for k, (v, s, _) in mapping.items()],
            "_ice_recorded string, _ice_fp string, _ice_seq long",
        )
    )
    # every data row carries its file's data sequence number (one
    # broadcast hash join against the per-file mapping). LEFT join +
    # fail-fast: an inner join would silently DROP every row of a
    # data file whose path the normalization above failed to match
    # (symlinked warehouse, URI-escaped writer paths); raising beats
    # losing rows
    # The guard is a FILTER (not a projected-column expression): every
    # row the scan yields must pass it, so the raise cannot be skipped
    # by a plan that never evaluates the seq column for rows without a
    # delete-side join partner.
    data = data.join(
        map_df.select("_ice_fp", "_ice_seq"), "_ice_fp", "left"
    ).filter(
        F.col("_ice_seq").isNotNull()
        | F.raise_error(
            F.concat(
                F.lit(
                    "iceberg read: scanned data file missing from "
                    "the snapshot's file mapping (path "
                    "normalization mismatch): "
                ),
                F.col("_ice_fp"),
            )
        ).cast("boolean")
    )
    if pos_files:
        by_seq: dict[int, list[str]] = {}
        for fp, seq in pos_files:
            by_seq.setdefault(seq, []).append(fp)
        dels = None
        for seq, fps in sorted(by_seq.items()):
            part = spark.read.parquet(*sorted(fps)).select(
                F.col("file_path").alias("_ice_recorded"),
                F.col("pos").alias("_del_pos"),
                F.lit(seq).cast("long").alias("_del_seq"),
            )
            dels = part if dels is None else dels.unionByName(part)
        dels = (
            dels.join(map_df.select("_ice_recorded", "_ice_fp"), "_ice_recorded")
            .select(
                F.col("_ice_fp").alias("_del_fp"), "_del_pos", "_del_seq"
            )
            .distinct()
        )
        data = data.join(
            dels,
            (F.col("_ice_fp") == F.col("_del_fp"))
            & (F.col("_ice_pos") == F.col("_del_pos"))
            & (F.col("_ice_seq") <= F.col("_del_seq")),
            "left_anti",
        )
    if eq_deletes:
        # group delete files by their equality-column signature: one
        # anti-join per signature, each delete row carrying its seq
        by_cols: dict[tuple[str, ...], list[tuple[str, int]]] = {}
        for fp, seq, dcols in eq_deletes:
            by_cols.setdefault(tuple(dcols), []).append((fp, seq))
        for dcols, files_seqs in by_cols.items():
            del_df = None
            for fp, seq in files_seqs:
                part = spark.read.parquet(fp).select(
                    *[F.col(c).alias(f"_del_{c}") for c in dcols],
                    F.lit(seq).alias("_del_seq"),
                )
                del_df = part if del_df is None else del_df.unionByName(part)
            cond = F.col("_ice_seq") < F.col("_del_seq")
            for c in dcols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"_del_{c}"))
            data = data.join(del_df, cond, "left_anti")
    if with_positions:
        return data.select(*cols, "_ice_fp", "_ice_pos")
    return data.select(*cols)


def read_iceberg_pruned(
    spark: SparkSession,
    path: str,
    predicates,
    snapshot_id: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """``read_iceberg`` with manifest-bounds file skipping AND the
    residual row filter applied (new r13) — the exact rows of
    ``read_iceberg(...).filter(pred)``, planned over only the files
    whose per-entry stats could not rule them out. Pruning is
    bloom-style (no false drops; stat-less entries always scanned),
    so correctness never rests on the stats — see
    ``sources/filestats.py``."""
    from .filestats import apply_residual

    return apply_residual(
        read_iceberg(
            spark,
            path,
            snapshot_id=snapshot_id,
            ref=ref,
            bounds_filter=predicates,
        ),
        predicates,
    )


def read_iceberg_incremental(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Incremental APPEND scan between two snapshots (exclusive
    ``from``, inclusive ``to``, default current) — rows in data files
    live at ``to`` but not at ``from``. Matches Iceberg's own
    incremental-read contract: every snapshot in the range must be an
    ``append`` (a replace/overwrite/delete in the range raises, as
    the Java incremental scan does — serving it would silently miss
    row-level changes). The same interop surface Hudi's
    ``incremental()`` read gives the lake's own tables.

    Scale: two metadata-tree walks (KB-scale Avro driver-side, the
    footprint every Iceberg client has) and ONE pruned parquet scan
    of exactly the appended files."""
    meta = json.load(open(_current_metadata_path(path)))
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if from_snapshot_id not in by_id:
        raise ValueError(f"snapshot {from_snapshot_id} not in table metadata")
    if to_snapshot_id is None:
        to_snapshot_id = meta.get("current-snapshot-id")
    if to_snapshot_id not in by_id:
        raise ValueError(f"snapshot {to_snapshot_id} not in table metadata")
    # walk the parent-snapshot-id lineage from `to` back to `from` —
    # the AUTHORITATIVE order. Sorting by timestamp-ms misorders
    # same-millisecond commits / skewed writer clocks, silently
    # flipping which snapshots fall inside (from, to]. Metadata whose
    # snapshots carry NO parent ids at all (minimal/legacy writers)
    # falls back to timestamp order — the only order it has
    chain: list[dict] = []
    if any("parent-snapshot-id" in s for s in by_id.values()):
        cur: int | None = to_snapshot_id
        while cur is not None and cur != from_snapshot_id:
            s = by_id.get(cur)
            if s is None:
                break
            chain.append(s)
            cur = s.get("parent-snapshot-id")
        if cur != from_snapshot_id:
            raise ValueError(
                f"snapshot {from_snapshot_id} is not an ancestor of "
                f"{to_snapshot_id} (reversed range or divergent branch)"
            )
    else:
        snaps = sorted(
            by_id.values(), key=lambda s: s.get("timestamp-ms") or 0
        )
        ids = [s["snapshot-id"] for s in snaps]
        lo, hi = ids.index(from_snapshot_id), ids.index(to_snapshot_id)
        if hi < lo:
            raise ValueError("to_snapshot precedes from_snapshot")
        chain = snaps[lo + 1 : hi + 1]
    for s in chain:
        op = (s.get("summary") or {}).get("operation", "append")
        if op == "replace":
            # a metadata-only REPLACE (rewrite_manifests) changes no
            # data files — Java's IncrementalAppendScan likewise
            # ignores such snapshots in the range (r9). Verified
            # against the FILE SETS, not the summary counters: a
            # replace that really rewrote data files still raises
            # (the endpoint set-diff could not distinguish compacted
            # rows from appended ones)
            parent = s.get("parent-snapshot-id")
            if parent is not None and parent in by_id:
                here, _, _ = _live_files(path, s["snapshot-id"])
                there, _, _ = _live_files(path, parent)
                if set(here) == set(there):
                    continue
        if op != "append":
            raise UnsupportedIcebergFeature(
                f"incremental read across non-append snapshot "
                f"{s['snapshot-id']} (operation={op}) — Iceberg's "
                "incremental scan has the same restriction"
            )
    base, _, _ = _live_files(path, from_snapshot_id)
    head, _, _ = _live_files(path, to_snapshot_id)
    new_files = sorted(
        v for k, (v, _, _) in head.items() if k not in base
    )
    if not new_files:
        return (
            spark.read.option("basePath", path)
            .parquet(*sorted(v for v, _, _ in head.values()))
            .limit(0)
        )
    return spark.read.option("basePath", path).parquet(*new_files)


def snapshots(path: str) -> list[dict]:
    """The table's snapshot log (id, timestamp, summary) — the
    time-travel surface."""
    meta = json.load(open(_current_metadata_path(path)))
    return [
        {
            "snapshot_id": s["snapshot-id"],
            "timestamp_ms": s.get("timestamp-ms"),
            "summary": s.get("summary", {}),
        }
        for s in meta.get("snapshots", [])
    ]


# -- the one commit path ----------------------------------------------------
#
# Every writer (export append, rewrite_manifests, rewrite_data_files,
# delete/update/upsert) commits the same way: open the parent snapshot,
# write its new manifests (one entry schema, one manifest writer), build
# their manifest-list rows against the list schema the table already
# uses, then append the snapshot on main or on a branch. Each Iceberg
# decision below lives in exactly one helper.


def _commit_metadata(
    path: str, new_meta: dict, base_version: int | None = None
) -> str:
    """Write ``new_meta`` as the next vN.metadata.json and bump the
    version hint — the filesystem catalog's atomic commit step.

    Put-if-absent (r13): the metadata version file is created O_EXCL
    (the HadoopTableOperations rename-commit contract). Writers that
    pass the ``base_version`` they READ commit at exactly base+1, so
    of two concurrent writers that both derived state from vN exactly
    one lands v(N+1) and the loser raises ``ConcurrentWriterError``
    having committed nothing — its staged data/manifest files
    (content-addressed by snapshot uuid, so never colliding) are
    unreferenced orphans that ``expire_snapshots``-class maintenance
    removes. Without ``base_version`` (single-writer maintenance ops)
    the next free version is taken from a fresh listing."""
    from ..errors import ConcurrentWriterError

    md = os.path.join(path, _META_DIR)
    if base_version is not None:
        v = base_version + 1
    else:
        versions = [
            int(m.group(1))
            for f in os.listdir(md)
            if (m := re.match(r"v(\d+)\.metadata\.json$", f))
        ]
        v = (max(versions) if versions else 0) + 1
    p = os.path.join(md, f"v{v}.metadata.json")
    try:
        fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as exc:
        raise ConcurrentWriterError(
            f"Iceberg metadata version v{v} at {path} already exists "
            "— another writer won the put-if-absent race; re-read the "
            "table state and retry the operation"
        ) from exc
    with os.fdopen(fd, "w") as fh:
        json.dump(new_meta, fh)
    with open(os.path.join(md, "version-hint.text"), "w") as fh:
        fh.write(str(v))
    return p


def _new_snapshot_id() -> int:
    return int(uuid.uuid4().int % (1 << 62))


def _open_parent(
    path: str,
    what: str,
    branch: str | None = None,
    v2_reason: str | None = None,
) -> tuple[dict, int, int, dict, dict]:
    """``(meta, base_v, parent_id, snap, default_spec)`` a commit
    builds on: the current table metadata and its version number
    (``base_v``, the put-if-absent base the row-level writers pass to
    :func:`_commit_metadata` so a concurrent writer that advanced the
    table first is DETECTED), the parent snapshot — the ``branch`` head
    when given, else the current snapshot — and the default partition
    spec. ``v2_reason`` refuses format-version 1 tables, naming why."""
    mpath = _current_metadata_path(path)
    with open(mpath) as fh:
        meta = json.load(fh)
    m = re.match(r"v(\d+)\.metadata\.json$", os.path.basename(mpath))
    base_v = int(m.group(1)) if m else 0
    if v2_reason and int(meta.get("format-version", 1)) < 2:
        raise UnsupportedIcebergFeature(
            f"{what} needs format-version 2 — {v2_reason}"
        )
    cur = meta.get("current-snapshot-id")
    if branch is not None:
        # branch-scoped commit: the parent is the BRANCH head and the
        # commit advances only refs[branch]
        cur = _branch_head(meta, branch, what)
    snap = next(
        (s for s in meta.get("snapshots", []) if s["snapshot-id"] == cur),
        None,
    )
    if snap is None:
        raise ValueError(f"Iceberg table at {path} has no current snapshot")
    default_spec = next(
        (
            s
            for s in meta.get("partition-specs", [])
            if s.get("spec-id") == meta.get("default-spec-id", 0)
        ),
        (meta.get("partition-specs") or [{}])[0],
    )
    return meta, base_v, cur, snap, default_spec


def _manifest_entry_schema(
    fmt_version: int,
    part_fields: Sequence[tuple[str, str, int]] = (),
    equality_ids: bool = False,
    stats: bool = False,
) -> dict:
    """The manifest-entry Avro schema of the manifests this module
    writes: ``part_fields`` are the partition record's
    ``(name, avro type, field-id)`` fields (optional, so a NULL
    partition value encodes); v2 adds the REQUIRED ``data_file.content``
    (Java v2 readers reject entries that omit it), ``equality_ids`` the
    equality-delete field ids, ``stats`` the four Appendix-D per-file
    stats maps."""
    es = json.loads(json.dumps(_MANIFEST_ENTRY_SCHEMA))
    df_fields = es["fields"][2]["type"]["fields"]
    if fmt_version == 2:
        df_fields.insert(
            1, {"name": "content", "type": "int", "field-id": 134}
        )
    if equality_ids:
        df_fields.insert(
            2,
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
                "field-id": 135,
            },
        )
    next(f for f in df_fields if f["name"] == "partition")["type"][
        "fields"
    ] = [
        {"name": n, "type": ["null", t], "field-id": fid, "default": None}
        for n, t, fid in part_fields
    ]
    if stats:
        df_fields += _stats_map_schema_fields()
    return es


def _part_fields(pspecs: list[dict]) -> list[tuple[str, str, int]]:
    """Partition record fields of parsed identity/bucket specs."""
    return [
        (ps["fname"], _PART_AVRO[ps["out_type"]], ps["fid"]) for ps in pspecs
    ]


def _added_entry(
    sid: int,
    full: str,
    partition: dict,
    content: int = 0,
    equality_ids: list[int] | None = None,
    stats: dict | None = None,
    record_count: int | None = None,
    size: int | None = None,
) -> dict:
    """One ADDED manifest entry (null sequence number: it inherits the
    manifest's, the spec's inheritance rule ``_live_files`` applies).
    Record count and size default to the file's footer and length;
    fields the entry schema lacks (v1 ``content``, ``equality_ids``)
    are ignored by the encoder."""
    import pyarrow.parquet as pq

    return {
        "status": 1,
        "snapshot_id": sid,
        "data_file": {
            "content": content,
            "equality_ids": equality_ids,
            # spec: file_path is a full URI, not a bare path
            "file_path": "file://" + full,
            "file_format": "PARQUET",
            "partition": partition,
            "record_count": (
                pq.ParquetFile(full).metadata.num_rows
                if record_count is None
                else record_count
            ),
            "file_size_in_bytes": (
                os.path.getsize(full) if size is None else size
            ),
            **(stats or {}),
        },
    }


def _stats_maps(fs: dict, cols: list[tuple[str, int, str]]) -> dict:
    """The four per-file stats maps (spec Appendix D) of one
    ``filestats`` footer record over ``(name, field id, iceberg type)``
    columns."""
    vc, nvc, lo, hi = {}, {}, {}, {}
    for c, fid, t in cols:
        vc[fid] = fs["numRecords"]
        if c in fs["nulls"]:
            nvc[fid] = fs["nulls"][c]
        if c in fs["min"] and c in fs["max"]:
            try:
                lo[fid] = _single_value_bytes(t, fs["min"][c])
                hi[fid] = _single_value_bytes(t, fs["max"][c])
            except (TypeError, ValueError):
                pass  # unrenderable bound stays absent
    return {
        "value_counts": _kv(vc),
        "null_value_counts": _kv(nvc),
        "lower_bounds": _kv(lo),
        "upper_bounds": _kv(hi),
    }


def _write_manifest(
    path: str,
    name: str,
    entry_schema: dict,
    entries: list[dict],
    fmt_version: int,
    spec_id: int,
    spec_fields: list,
    content: int = 0,
    schema: dict | None = None,
) -> str:
    """Write ``metadata/<name>`` with the key-value metadata Java
    manifest readers require (spec "Manifests": table schema,
    partition spec and its id, format-version, content); ``schema``
    defaults to the table's current schema. Returns the path."""
    mp = os.path.join(path, _META_DIR, name)
    write_avro(
        mp,
        entry_schema,
        entries,
        metadata={
            "schema": json.dumps(
                _current_schema(path) if schema is None else schema
            ).encode(),
            "schema-id": b"0",
            "partition-spec": json.dumps(spec_fields).encode(),
            "partition-spec-id": str(spec_id).encode(),
            "format-version": str(fmt_version).encode(),
            "content": b"data" if content == 0 else b"deletes",
        },
    )
    return mp


def _manifest_list_row(
    mlist_schema: dict,
    manifest_path: str,
    spec_id: int,
    sid: int,
    seq: int,
    content: int = 0,
    added: tuple[int, int] = (0, 0),
    existing: tuple[int, int] = (0, 0),
    min_seq: int | None = None,
    partitions: list | None = None,
) -> dict:
    """One manifest-list row for a manifest this snapshot wrote, filled
    against ``mlist_schema`` (the list schema the table already uses,
    so externally-written layouts keep their exact field set).
    ``added``/``existing`` are (files, rows) counts."""
    full = {
        "manifest_path": "file://" + manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": spec_id,
        "added_snapshot_id": sid,
        "content": content,
        "sequence_number": seq,
        "min_sequence_number": seq if min_seq is None else min_seq,
        "added_files_count": added[0],
        "existing_files_count": existing[0],
        "deleted_files_count": 0,
        "added_rows_count": added[1],
        "existing_rows_count": existing[1],
        "deleted_rows_count": 0,
        "partitions": partitions,
    }
    return {f["name"]: full.get(f["name"]) for f in mlist_schema["fields"]}


def _partition_summaries(pspecs: list[dict], key: tuple) -> list | None:
    """Manifest-list field summaries of a single-partition manifest
    (contains_null + single-value-encoded bounds, lower == upper)."""
    if not pspecs:
        return None
    return [
        {
            "contains_null": v is None,
            "lower_bound": None
            if v is None
            else _single_value_bytes(ps["out_type"], v),
            "upper_bound": None
            if v is None
            else _single_value_bytes(ps["out_type"], v),
        }
        for ps, v in zip(pspecs, key)
    ]


def _write_manifest_list(
    path: str, sid: int, fmt_version: int, mlist_schema: dict, rows: list
) -> str:
    mlist = os.path.join(path, _META_DIR, f"snap-{sid}.avro")
    write_avro(
        mlist,
        mlist_schema,
        rows,
        metadata={
            "format-version": str(fmt_version).encode(),
            "snapshot-id": str(sid).encode(),
        },
    )
    return mlist


def _commit_snapshot(
    path: str,
    meta: dict,
    sid: int,
    parent_id: int | None,
    seq: int,
    mlist_schema: dict,
    mlist_rows: list,
    summary: dict,
    branch: str | None = None,
    base_version: int | None = None,
) -> None:
    """Write ``snap-<sid>.avro`` and commit a snapshot over it: the
    snapshot records its parent, the schema in effect (time travel
    across later ADD-COLUMN evolution reads under it) and, in v2, its
    sequence number. A ``branch`` commit advances ONLY that ref — the
    main lineage and the snapshot-log (which tracks current-table-state
    changes, per the spec) stay put; otherwise the snapshot becomes
    current and extends the snapshot-log. ``base_version`` is passed
    through to :func:`_commit_metadata`'s put-if-absent."""
    fmt_version = int(meta.get("format-version", 1))
    mlist = _write_manifest_list(path, sid, fmt_version, mlist_schema, mlist_rows)
    now_ms = int(time.time() * 1000)
    new_snap = {
        "snapshot-id": sid,
        "parent-snapshot-id": parent_id,
        "timestamp-ms": now_ms,
        "schema-id": int(meta.get("current-schema-id", 0)),
        "manifest-list": "file://" + mlist,
        "summary": summary,
    }
    new_meta = dict(meta)
    if fmt_version == 2:
        new_snap["sequence-number"] = seq
        new_meta["last-sequence-number"] = seq
    new_meta["last-updated-ms"] = now_ms
    new_meta["snapshots"] = list(meta.get("snapshots", [])) + [new_snap]
    if branch is not None:
        refs = dict(meta.get("refs") or {})
        refs[branch] = {"snapshot-id": sid, "type": "branch"}
        new_meta["refs"] = refs
    else:
        new_meta["current-snapshot-id"] = sid
        new_meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
            {"timestamp-ms": now_ms, "snapshot-id": sid}
        ]
    _commit_metadata(path, new_meta, base_version=base_version)


def _data_files_on_disk(data_dir: str) -> set[str]:
    """Every parquet file under ``data_dir``. Writers diff this set
    around their distributed write to learn exactly the files it
    produced (the ``optimize_delta._data_file_set`` shape) instead of
    reconstructing prior references from snapshots: a stale file whose
    only referencing snapshot is unreadable would otherwise be taken
    for new output and committed, resurrecting dead rows."""
    return {
        os.path.join(root, f)
        for root, _d, fs in os.walk(data_dir)
        for f in fs
        if f.endswith(".parquet") and not f.startswith("_")
    }


# -- table maintenance (metadata-only commits) -------------------------------


def _snapshot_reachable(
    path: str, snap: dict
) -> tuple[str, list[str], set[str]]:
    """(manifest-list path, manifest paths, data-file paths) a
    snapshot references — ALL statuses, so a file recorded as DELETED
    by a retained snapshot is still treated as reachable (the
    conservative reachability Iceberg's expireSnapshots uses)."""
    mlist = _resolve(snap["manifest-list"], path)
    _, manifests = read_avro(mlist)
    mpaths: list[str] = []
    dpaths: set[str] = set()
    for m in manifests:
        mp = _resolve(m["manifest_path"], path)
        mpaths.append(mp)
        _, entries = read_avro(mp)
        for e in entries:
            dpaths.add(_resolve(e["data_file"]["file_path"], path))
    return mlist, mpaths, dpaths


def expire_snapshots(
    path: str, keep_last: int = 1, clean_files: bool = True
) -> dict:
    """Iceberg's ``expire_snapshots`` maintenance procedure for the
    filesystem-catalog layout: retain the last ``keep_last``
    snapshots on the CURRENT lineage (parent-snapshot-id chain;
    timestamp order for legacy metadata without parent ids), drop
    every other snapshot from the table metadata in one metadata-only
    commit (a new vN.metadata.json), and — with ``clean_files`` —
    delete the manifest lists, manifests, and data files reachable
    ONLY from expired snapshots.

    Scale: without expiry an exported table accumulates one manifest
    list + manifest per commit FOREVER; at 100 TB commit counts the
    planning walk grows unboundedly. Expiry keeps external-view
    metadata O(active window) — the same timeline-archiving contract
    the engine's own upsert tables document in SCALING.md. Everything
    here is KB-scale driver metadata; no data scan.

    Returns counts: expired snapshots and removed file tallies."""
    meta = json.load(open(_current_metadata_path(path)))
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    snaps = meta.get("snapshots", [])
    by_id = {s["snapshot-id"]: s for s in snaps}
    cur = meta.get("current-snapshot-id")
    chain: list[dict] = []
    if any("parent-snapshot-id" in s for s in snaps):
        c = cur
        while c in by_id:
            chain.append(by_id[c])
            c = by_id[c].get("parent-snapshot-id")
    else:
        chain = sorted(
            snaps,
            key=lambda s: (s.get("timestamp-ms") or 0, s["snapshot-id"]),
            reverse=True,
        )
    keep_ids = {s["snapshot-id"] for s in chain[:keep_last]}
    if cur is not None:
        keep_ids.add(cur)  # never expire the current snapshot
    # named refs pin their snapshots (Java's retention rule: tagged
    # snapshots survive expiry until the ref is dropped — new r11).
    # BRANCH refs additionally retain their ANCESTOR chain (new r12):
    # a branch is a writable lineage, so time travel and changelog
    # scans along it must keep working until the ref is dropped
    for ref in (meta.get("refs") or {}).values():
        sid = ref.get("snapshot-id")
        if sid not in by_id:
            continue
        keep_ids.add(sid)
        if ref.get("type") == "branch":
            c = by_id[sid].get("parent-snapshot-id")
            while c in by_id and c not in keep_ids:
                keep_ids.add(c)
                c = by_id[c].get("parent-snapshot-id")
    expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
    removed = {
        "expired_snapshots": len(expired),
        "manifest_lists": 0,
        "manifests": 0,
        "data_files": 0,
    }
    if not expired:
        return removed
    keep_paths: set[str] = set()
    keep_data: set[str] = set()
    for sid in keep_ids:
        ml, mps, dps = _snapshot_reachable(path, by_id[sid])
        keep_paths.add(ml)
        keep_paths.update(mps)
        keep_data.update(dps)
    if clean_files:
        for s in expired:
            try:
                ml, mps, dps = _snapshot_reachable(path, s)
            except (FileNotFoundError, OSError):
                continue  # already cleaned by an earlier expiry
            for mp in mps:
                if mp not in keep_paths and os.path.exists(mp):
                    os.remove(mp)
                    removed["manifests"] += 1
            if ml not in keep_paths and os.path.exists(ml):
                os.remove(ml)
                removed["manifest_lists"] += 1
            for dp in dps:
                if dp not in keep_data and os.path.exists(dp):
                    os.remove(dp)
                    removed["data_files"] += 1
    new_meta = dict(meta)
    new_meta["snapshots"] = [
        s for s in snaps if s["snapshot-id"] in keep_ids
    ]
    if "snapshot-log" in new_meta:
        new_meta["snapshot-log"] = [
            e
            for e in new_meta["snapshot-log"]
            if e.get("snapshot-id") in keep_ids
        ]
    _commit_metadata(path, new_meta)
    return removed


def _merge_entry_schemas(a: dict, b: dict) -> dict:
    """Superset of two manifest-entry avro schemas: fields present in
    only one side must be OPTIONAL (``["null", ...]`` unions, so
    entries lacking them encode null); same-name fields must match
    exactly. The ``data_file`` record merges one level deep the same
    way. Anything else raises — encoding under a narrower schema
    would silently drop the other manifests' fields."""

    def union(af: list, bf: list, where: str) -> list:
        by = {f["name"]: f for f in af}
        out = [json.loads(json.dumps(f)) for f in af]
        # r11 ADVICE: the optionality check must run BOTH ways — a
        # non-optional field present only in the FIRST schema would
        # otherwise pass, get None backfilled for the other
        # manifests' entries, and die in write_avro mid-rewrite
        # instead of refusing cleanly (order-dependent behavior).
        b_names = {f["name"] for f in bf}
        for f in af:
            if f["name"] not in b_names:
                t = f.get("type")
                if not (isinstance(t, list) and t and t[0] == "null"):
                    raise UnsupportedIcebergFeature(
                        f"rewrite_manifests: non-optional field "
                        f"{f['name']!r} ({where}) exists in only one "
                        "manifest entry schema"
                    )
        for f in bf:
            g = by.get(f["name"])
            if g is None:
                t = f.get("type")
                if not (isinstance(t, list) and t and t[0] == "null"):
                    raise UnsupportedIcebergFeature(
                        f"rewrite_manifests: non-optional field "
                        f"{f['name']!r} ({where}) exists in only one "
                        "manifest entry schema"
                    )
                out.append(json.loads(json.dumps(f)))
            elif f["name"] != "data_file" and json.dumps(
                g, sort_keys=True
            ) != json.dumps(f, sort_keys=True):
                raise UnsupportedIcebergFeature(
                    f"rewrite_manifests: conflicting definitions of "
                    f"field {f['name']!r} ({where}) across manifest "
                    "entry schemas"
                )
        return out

    a = json.loads(json.dumps(a))
    b_by = {f["name"]: f for f in b.get("fields", [])}
    a_df = next(
        (f for f in a["fields"] if f["name"] == "data_file"), None
    )
    b_df = b_by.get("data_file")
    merged_fields = union(a["fields"], b.get("fields", []), "entry")
    if a_df is not None and b_df is not None:
        df_fields = union(
            a_df["type"]["fields"], b_df["type"]["fields"], "data_file"
        )
        for f in merged_fields:
            if f["name"] == "data_file":
                f["type"]["fields"] = df_fields
    a["fields"] = merged_fields
    return a


def rewrite_manifests(
    path: str,
    spark: SparkSession | None = None,
    stats: bool = False,
) -> dict:
    """Iceberg's ``rewrite_manifests`` maintenance procedure: compact
    the CURRENT snapshot's DATA manifests into ONE manifest of
    EXISTING entries (explicit sequence numbers in v2, per the spec's
    inheritance rule being ADDED-only), committed as a new snapshot
    with ``operation=replace`` — the same data files, one metadata
    pass, no data rewrite.

    ``stats=True`` (new r13, needs ``spark``) is the Iceberg stats
    BACKFILL — ``backfill_delta_stats``' twin: entries whose
    data_file records lack ``lower_bounds`` get the four per-file
    stats maps (Appendix D) computed by one distributed footer pass
    during the same metadata-only replace, so a table written before
    stats existed becomes skippable without rewriting a byte of
    data. Entries already carrying bounds keep them. Delete manifests (v2 content=1) pass
    through untouched. Per-manifest partition bound summaries are not
    recomputed (entries keep their real partition structs, which is
    the level ``read_iceberg``'s ``partition_filter`` prunes on).

    Refuses across multiple partition-spec ids (entries would not fit
    one manifest schema). Returns before/after manifest counts."""
    meta, _, cur, snap, _ = _open_parent(path, "rewrite_manifests")
    fmt_version = int(meta.get("format-version", 1))
    mlist_schema, manifests = read_avro(_resolve(snap["manifest-list"], path))
    data_manifests = [m for m in manifests if (m.get("content") or 0) == 0]
    passthrough = [m for m in manifests if (m.get("content") or 0) != 0]
    out = {
        "data_manifests_before": len(data_manifests),
        "data_manifests_after": min(1, len(data_manifests)),
        "rewritten": 0,
    }
    # stats backfill must run even over a single manifest (the
    # common shape of a fresh export) — the rewrite is then a
    # stats-only metadata replace
    if len(data_manifests) <= 1 and not (stats and data_manifests):
        return out
    spec_ids = {m.get("partition_spec_id") or 0 for m in data_manifests}
    if len(spec_ids) > 1:
        raise UnsupportedIcebergFeature(
            "rewrite_manifests across multiple partition specs"
        )
    entry_schema = None
    entries_out: list[dict] = []
    min_seq = None
    for m in data_manifests:
        mp = _resolve(m["manifest_path"], path)
        es, entries = read_avro(mp)
        if entry_schema is None:
            entry_schema = es
        elif json.dumps(es, sort_keys=True) != json.dumps(
            entry_schema, sort_keys=True
        ):
            # heterogeneous entry schemas (e.g. an upsert's data
            # manifest carries optional equality_ids, an append's
            # does not): merge into the SUPERSET so no manifest's
            # fields are silently dropped (r11 — conflicting or
            # non-optional extra fields still refuse)
            entry_schema = _merge_entry_schemas(entry_schema, es)
        m_seq = m.get("sequence_number") or 0
        for e in entries:
            if e.get("status") == 2:  # DELETED: drops out of the compaction
                continue
            ne = {
                "status": 0,  # EXISTING
                "snapshot_id": e.get("snapshot_id"),
                "data_file": e["data_file"],
            }
            if fmt_version == 2:
                seq = e.get("sequence_number")
                if seq is None:
                    seq = m_seq  # ADDED inheritance resolved here
                ne["sequence_number"] = seq
                min_seq = seq if min_seq is None else min(min_seq, seq)
            entries_out.append(ne)
    entry_schema = json.loads(json.dumps(entry_schema))
    if stats:
        if spark is None:
            raise ValueError("rewrite_manifests(stats=True) needs spark")
        cols = [(n, fid, t) for fid, (n, t) in _fields_by_id(meta).items()]
        df_field = next(
            f for f in entry_schema["fields"] if f["name"] == "data_file"
        )
        have = {f["name"] for f in df_field["type"]["fields"]}
        df_field["type"]["fields"] += [
            fld
            for fld in _stats_map_schema_fields()
            if fld["name"] not in have
        ]
        todo = [
            e
            for e in entries_out
            if not e["data_file"].get("lower_bounds")
        ]
        resolved = {
            e["data_file"]["file_path"]: _resolve(
                e["data_file"]["file_path"], path
            )
            for e in todo
        }
        from .filestats import parquet_footer_stats

        footer = parquet_footer_stats(
            spark, sorted(set(resolved.values()))
        )
        out["stats_backfilled"] = 0
        for e in todo:
            fs = footer.get(resolved[e["data_file"]["file_path"]])
            if fs is None:
                continue
            e["data_file"] = {**e["data_file"], **_stats_maps(fs, cols)}
            out["stats_backfilled"] += 1
    if fmt_version == 2 and not any(
        f["name"] == "sequence_number" for f in entry_schema["fields"]
    ):
        entry_schema["fields"].insert(
            2,
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "field-id": 3,
                "default": None,
            },
        )
    # entries read under a narrower schema lack the merged-in
    # optional fields; the avro encoder indexes record fields by
    # name, so fill nulls against the FINAL schema (r11)
    df_schema_fields = next(
        (
            f["type"]["fields"]
            for f in entry_schema["fields"]
            if f["name"] == "data_file"
        ),
        [],
    )
    for ne in entries_out:
        for f in entry_schema["fields"]:
            ne.setdefault(f["name"], None)
        dfv = ne.get("data_file")
        if isinstance(dfv, dict):
            for f in df_schema_fields:
                dfv.setdefault(f["name"], None)
    new_sid = _new_snapshot_id()
    new_seq = int(meta.get("last-sequence-number") or 0) + 1
    # the manifest's partition-spec metadata must describe the SPEC
    # THE ENTRIES USE — select by spec-id, not position (ADVICE r9:
    # an externally-written table whose current spec id is not 0,
    # i.e. an evolved spec, got mismatched spec fields)
    target_spec_id = sorted(spec_ids)[0]
    spec = next(
        (
            s
            for s in meta.get("partition-specs", [])
            if s.get("spec-id") == target_spec_id
        ),
        (meta.get("partition-specs") or [{}])[0],
    )
    manifest_path = _write_manifest(
        path,
        f"manifest-{new_sid}-rw.avro",
        entry_schema,
        entries_out,
        fmt_version,
        target_spec_id,
        spec.get("fields", []),
    )
    new_row = _manifest_list_row(
        mlist_schema,
        manifest_path,
        target_spec_id,
        new_sid,
        new_seq,
        existing=(
            len(entries_out),
            sum(e["data_file"].get("record_count") or 0 for e in entries_out),
        ),
        min_seq=min_seq if min_seq is not None else 0,
    )
    _commit_snapshot(
        path,
        meta,
        new_sid,
        cur,
        new_seq,
        mlist_schema,
        [new_row] + passthrough,
        {
            "operation": "replace",
            "compacted-manifests": str(len(data_manifests)),
        },
    )
    out["rewritten"] = len(entries_out)
    return out


def rewrite_data_files(
    spark: SparkSession,
    path: str,
    data_files: Sequence[str] | None = None,
    deletes_applied: bool = False,
    sort_by: Sequence[str] | None = None,
    target_files: int | None = None,
    stats: bool = False,
) -> dict:
    """Iceberg's ``rewrite_data_files`` (bin-pack compaction, new
    r10 — the Iceberg twin of ``optimize_delta``): read the CURRENT
    snapshot's live rows (row-level deletes applied via
    ``read_iceberg``), rewrite them as ONE data file, and commit a
    new snapshot with ``operation=replace`` whose manifest list
    references a single data manifest of ADDED entries.

    ``sort_by`` (new r13) is the procedure's SORT strategy
    (Java's ``strategy => 'sort', sort_order => ...``): rows are
    range-partitioned into ``target_files`` files (default: the
    pre-rewrite live file count) and sorted within each, so every
    file owns a DISJOINT range of the sort key. With ``stats=True``
    the new manifest entries carry Appendix-D lower/upper bounds
    (plus value/null counts) from one distributed footer pass —
    after which ``read_iceberg_pruned`` answers point/range queries
    on the sort key opening exactly the covering files. This is the
    materialization op that turns accumulated unsorted appends into
    a skippable layout (SCALING.md cadence story). Unpartitioned
    tables only (a hive partition already bounds its files). Exported
    tables accumulate one data file per append commit, so without
    this the per-scan file count grows unboundedly; afterwards it is
    O(1) until the next appends. Delete manifests are DROPPED from
    the new snapshot — compaction materializes position/equality
    deletes into the rewritten file, Iceberg's REWRITE behavior.

    ``data_files`` (absolute paths of already-written parquet files
    holding the full live row set) skips the data write and commits
    the replace over those files — the UniForm path
    (``uniform.optimize_uniform``), where ONE rewritten parquet set
    serves both formats' compaction commits.

    ``read_iceberg_incremental`` refuses ranges crossing this
    snapshot (data files really changed), exactly like Java's
    IncrementalAppendScan; ``rewrite_manifests``'s metadata-only
    replace still passes through.

    PARTITIONED tables compact too (identity new r10, bucket new
    r11): the rewrite regroups on the partition tuple (one task ->
    one compacted file per partition, the ``optimize_delta`` shape)
    and re-emits one manifest per partition with real partition
    structs and bound summaries — both pruning levels survive
    compaction. ``bucket(N, col)`` values are re-derived at rewrite
    time with the in-repo golden-tested ``iceberg_bucket`` transform
    (murmur3, byte-for-byte the Java spec values). Boundary: other
    transforms (truncate/date) refuse — ``rewrite_manifests`` still
    compacts their METADATA. ``data_files`` injection over an
    identity-partitioned table WORKS — partition values are parsed
    from the files' bare ``col=value`` hive path segments, which
    partitioned UniForm compaction (``uniform.optimize_uniform``)
    depends on.

    Scale: one distributed read + one distributed write of the live
    data, KB-scale driver metadata — the same shape as any engine's
    compaction pass."""
    if sort_by and data_files is not None:
        raise ValueError(
            "sort_by rewrites the data itself — incompatible with "
            "data_files injection"
        )
    meta, _, cur, snap, default_spec = _open_parent(
        path, "rewrite_data_files"
    )
    if sort_by and meta.get("partition-specs", [{}])[0].get("fields"):
        raise UnsupportedIcebergFeature(
            "sort_by rewrite over a partitioned table — a hive "
            "partition already bounds its files; run the bin-pack "
            "rewrite instead"
        )
    fmt_version = int(meta.get("format-version", 1))
    # partitioned tables compact too (identity new r10, bucket new
    # r11): the rewrite regroups by the partition tuple (one task ->
    # one file per partition, the optimize_delta shape) and re-emits
    # per-partition manifests with real partition structs + bound
    # summaries. Bucket values are RE-DERIVED at rewrite time with
    # the in-repo golden-tested iceberg_bucket transform; other
    # transforms (truncate/date) refuse — rewrite_manifests still
    # compacts their metadata.
    fields = _current_schema(path)["fields"]
    pspecs = _parse_pspecs(meta, default_spec, fields, "rewrite_data_files")
    live, pos_del, eq_del = _live_files(path, cur)
    out = {
        "files_before": len(live),
        "files_after": len(live),
        "rewritten_rows": 0,
    }
    if data_files is None and len(live) <= 1 and not pos_del and not eq_del:
        return out  # already compact, nothing to materialize
    if data_files is None:
        data_dir = os.path.join(path, "data")
        before_write = _data_files_on_disk(data_dir)
        from pyspark.sql import functions as F

        w = read_iceberg(spark, path)
        if pspecs:
            w, shadows = _with_partition_shadows(w, pspecs)
            # repartition ON the partition tuple: one task per value
            # -> exactly one compacted file per partition dir
            w.repartition(*shadows).write.partitionBy(*shadows).mode(
                "append"
            ).parquet(data_dir)
        elif sort_by:
            missing = [c for c in sort_by if c not in w.columns]
            if missing:
                raise ValueError(
                    f"sort_by: unknown columns {missing}"
                )
            n_out = target_files or max(len(live), 1)
            (
                w.repartitionByRange(
                    n_out, *[F.col(c) for c in sort_by]
                )
                .sortWithinPartitions(*sort_by)
                .write.mode("append")
                .parquet(data_dir)
            )
        else:
            w.coalesce(1).write.mode("append").parquet(data_dir)
        new_files = sorted(_data_files_on_disk(data_dir) - before_write)
    else:
        new_files = [os.path.abspath(f) for f in sorted(data_files)]
        if (pos_del or eq_del) and not deletes_applied:
            raise UnsupportedIcebergFeature(
                "rewrite_data_files(data_files=...) over a table with "
                "delete files — the injected set cannot prove the "
                "deletes were applied (pass deletes_applied=True only "
                "when the injected rows ARE the post-delete row set, "
                "as optimize_uniform's shared rewrite guarantees)"
            )
    if not new_files:
        raise RuntimeError("rewrite_data_files wrote no parquet files")

    new_sid = _new_snapshot_id()
    new_seq = int(meta.get("last-sequence-number") or 0) + 1
    entry_schema = _manifest_entry_schema(
        fmt_version, _part_fields(pspecs), stats=stats
    )
    rw_stats: dict[str, dict] = {}
    cols = [
        (f["name"], f["id"], f["type"])
        for f in fields
        if isinstance(f["type"], str)
    ]
    if stats:
        from .filestats import parquet_footer_stats

        rw_stats = parquet_footer_stats(spark, list(new_files))
    # one manifest per partition tuple (entries carry real partition
    # structs, the list rows carry the bound summaries planners prune
    # on) — exactly the exporter's two pruning levels; unpartitioned
    # tables collapse to the single () group. Partition values parse
    # from the files' `_p_<field>=` (own layout) or bare hive
    # `<field>=` (injected UniForm layout) path segments.
    by_part: dict[tuple, list[str]] = {}
    for full in new_files:
        vals = (
            _pvals_from_path(full, path, pspecs, "rewrite_data_files")
            if pspecs
            else {}
        )
        key = tuple(vals.get(ps["fname"]) for ps in pspecs)
        by_part.setdefault(key, []).append(full)
    # the new manifest list reuses the table's OWN list schema (like
    # rewrite_manifests) so externally-written layouts keep their
    # exact field set; delete manifests are NOT carried forward
    mlist_schema, _ = read_avro(_resolve(snap["manifest-list"], path))
    spec_id = default_spec.get("spec-id", 0)
    mlist_rows = []
    total_rows = 0
    for gi, (key, group) in enumerate(
        sorted(
            by_part.items(),
            key=lambda kv: tuple((x is None, x) for x in kv[0]),
        )
    ):
        part = dict(zip((ps["fname"] for ps in pspecs), key))
        entries = [
            _added_entry(
                new_sid,
                full,
                part,
                stats=(
                    _stats_maps(rw_stats[full], cols)
                    if full in rw_stats
                    else None
                ),
            )
            for full in sorted(group)
        ]
        manifest_path = _write_manifest(
            path,
            f"manifest-{new_sid}-rdf-{gi}.avro",
            entry_schema,
            entries,
            fmt_version,
            spec_id,
            default_spec.get("fields", []),
        )
        group_rows = sum(
            e["data_file"]["record_count"] for e in entries
        )
        total_rows += group_rows
        mlist_rows.append(
            _manifest_list_row(
                mlist_schema,
                manifest_path,
                spec_id,
                new_sid,
                new_seq,
                added=(len(entries), group_rows),
                partitions=_partition_summaries(pspecs, key),
            )
        )
    _commit_snapshot(
        path,
        meta,
        new_sid,
        cur,
        new_seq,
        mlist_schema,
        mlist_rows,
        {
            "operation": "replace",
            "rewritten-data-files": str(len(live)),
            "added-data-files": str(len(new_files)),
        },
    )
    out["files_after"] = len(new_files)
    out["rewritten_rows"] = total_rows
    return out


def _refuse_uniform_iceberg(path: str, op: str) -> None:
    """Row-changing single-format ops on a UniForm directory would
    silently DIVERGE the two views (the Delta log reads the same
    files and would keep serving the rows) — refuse with a pointer
    to the dual-format op (r11)."""
    if os.path.isdir(os.path.join(path, "_delta_log")):
        raise UnsupportedIcebergFeature(
            f"{op} on a UniForm table would diverge the Iceberg and "
            "Delta views — use the uniform module's dual-format "
            "operations (delete_uniform / optimize_uniform)"
        )


def _posdel_files(
    spark: SparkSession,
    path: str,
    matched: DataFrame,
    mapping: dict,
    what: str,
) -> list:
    """Write one spec-shaped POSITION-DELETE parquet per touched data
    file (columns ``file_path``/``pos`` with the spec's reserved
    field ids 2147483546/2147483545, positions sorted, the data file
    referenced by its RECORDED manifest URI) — the shared worker of
    :func:`delete_iceberg` and :func:`update_iceberg`. ``matched`` is
    a ``(_ice_fp, _ice_pos)`` frame of normalized paths + row
    indexes; returns the bounded descriptor rows (one per touched
    file). Positions never pass through the driver."""
    from pyspark.sql import functions as F

    map_df = F.broadcast(
        spark.createDataFrame(
            [(v, k) for k, (v, _s, _p) in mapping.items()],
            "_ice_fp string, _ice_recorded string",
        )
    )
    # LEFT join + fail-fast filter (the read path's shape): an inner
    # join would silently SKIP deleting rows whose path normalization
    # failed to match — not deleting requested rows is as wrong as
    # dropping rows
    matched = matched.join(map_df, "_ice_fp", "left").filter(
        F.col("_ice_recorded").isNotNull()
        | F.raise_error(
            F.concat(
                F.lit(
                    f"{what}: matched row's data file missing "
                    "from the snapshot's file mapping: "
                ),
                F.col("_ice_fp"),
            )
        ).cast("boolean")
    )
    data_dir = os.path.join(path, "data")
    # UniForm layouts keep data at the table root and have no data/
    # dir yet — create it before the workers write into it
    os.makedirs(data_dir, exist_ok=True)

    def _write_posdel(pdf: pd.DataFrame) -> pd.DataFrame:
        import pyarrow as pa
        import pyarrow.parquet as papq

        rec = pdf["_ice_recorded"].iloc[0]
        poss = sorted(int(p) for p in pdf["_ice_pos"])
        schema = pa.schema(
            [
                pa.field(
                    "file_path",
                    pa.string(),
                    nullable=False,
                    metadata={b"PARQUET:field_id": b"2147483546"},
                ),
                pa.field(
                    "pos",
                    pa.int64(),
                    nullable=False,
                    metadata={b"PARQUET:field_id": b"2147483545"},
                ),
            ]
        )
        name = f"pos-del-{uuid.uuid4()}.parquet"
        fp = os.path.join(data_dir, name)
        papq.write_table(
            pa.table(
                {"file_path": [rec] * len(poss), "pos": poss},
                schema=schema,
            ),
            fp,
        )
        return pd.DataFrame(
            {
                "recorded": [rec],
                "file": [fp],
                "n": [len(poss)],
                "size": [os.path.getsize(fp)],
            }
        )

    return matched.groupBy("_ice_recorded").applyInPandas(
        _write_posdel, "recorded string, file string, n long, size long"
    ).collect()  # bounded: one descriptor row per touched data file


def delete_iceberg(
    spark: SparkSession,
    path: str,
    predicate: str,
    _allow_uniform: bool = False,
    branch: str | None = None,
) -> dict:
    """Row-level DELETE on a v2 Iceberg table via POSITION-DELETE
    files (new r11 — the write side of the reader's v2 delete support
    and the Iceberg twin of ``delete_delta``): rows matching
    ``predicate`` are marked deleted WITHOUT rewriting any data file.

    How: one scan of the live data files carrying the hidden parquet
    ``_metadata.file_path`` / ``row_index`` columns (partition
    columns re-attached by the same basePath projection
    ``read_iceberg`` uses, so predicates bind logical names),
    filtered by the predicate; matched positions group by data file
    into ``applyInPandas`` workers that each write one spec-shaped
    position-delete parquet (columns ``file_path`` / ``pos`` with
    the spec's reserved field ids 2147483546 / 2147483545, positions
    sorted, the data file referenced by its RECORDED manifest URI).
    The commit is ONE new delete manifest of ADDED ``content=1``
    entries (each carrying its data file's partition struct —
    partition-scoped deletes) appended to the carried-forward
    manifest list under a new ``operation=delete`` snapshot at the
    next sequence number — so the spec's scoping rule (data seq <=
    delete seq) makes the deletes apply to every current file while
    files rewritten later escape them. ``rewrite_data_files``
    materializes and drops the delete files (REWRITE semantics).

    Format-version 1 tables refuse: v1 has no sequence numbers, so
    position deletes cannot be scoped (the same restriction Java
    enforces). The predicate scan sees only LIVE rows (prior
    position/equality deletes applied via ``_live_scan`` — new r12),
    so a predicate overlapping an earlier delete records nothing
    twice and ``deleted_rows`` counts exactly the newly retired
    rows.

    Scale: positions never pass through the driver — each worker
    writes its own file's delete parquet; the driver sees one
    KB-scale descriptor row per touched file, and the commit is a
    metadata append (existing manifests are NOT rewritten)."""
    if not _allow_uniform:
        _refuse_uniform_iceberg(path, "delete_iceberg")
    meta, base_v, cur, snap, default_spec = _open_parent(
        path,
        "delete_iceberg",
        branch,
        v2_reason="v1 has no sequence numbers to scope position deletes",
    )
    mapping, pos_files, eq_deletes = _live_files(path, cur)
    if not mapping:
        raise FileNotFoundError(
            f"Iceberg table at {path} has no live data files"
        )
    # LIVE rows only (prior deletes applied — new r12): a predicate
    # overlapping an earlier delete no longer re-records the dead
    # positions, so deleted_rows is exact and delete files carry no
    # duplicates (r11 VERDICT nit)
    data = _live_scan(
        spark, path, mapping, pos_files, eq_deletes, with_positions=True
    )
    matched = data.filter(predicate).select("_ice_fp", "_ice_pos")
    touched = _posdel_files(spark, path, matched, mapping, "delete_iceberg")
    if not touched:
        return {"snapshot_id": None, "deleted_rows": 0, "files_touched": 0}
    pfields = default_spec.get("fields", [])
    part_fields = []
    if pfields:
        # partition values are COPIED from the data files' own
        # manifest structs (partition-scoped deletes) — no transform
        # re-derivation needed; the avro types mirror the exporter's
        # (identity -> source type, bucket -> int, others fall back
        # to the sample value's type)
        names_by_id = _field_names_by_id(meta)
        schema_types = {
            f["name"]: f["type"] for f in _current_schema(path)["fields"]
        }
        sample = next(iter(mapping.values()))[2]
        for pf in pfields:
            tr = pf.get("transform")
            t = schema_types.get(names_by_id.get(pf.get("source-id")))
            if tr == "identity" and t in _PART_AVRO:
                t = _PART_AVRO[t]
            elif re.match(r"^bucket\[\d+\]$", tr or ""):
                t = "int"
            else:
                v = sample.get(pf["name"])
                t = "string" if isinstance(v, str) else "long"
            part_fields.append(
                (pf["name"], t, int(pf.get("field-id", 1000)))
            )
    new_sid = _new_snapshot_id()
    new_seq = int(meta.get("last-sequence-number") or 0) + 1
    touched = sorted(touched, key=lambda r: r["recorded"])
    deleted = sum(int(r["n"]) for r in touched)
    entries = [
        _added_entry(
            new_sid,
            r["file"],
            dict(mapping[r["recorded"]][2]) if pfields else {},
            content=1,
            record_count=int(r["n"]),
            size=int(r["size"]),
        )
        for r in touched
    ]
    spec_id = default_spec.get("spec-id", 0)
    manifest_path = _write_manifest(
        path,
        f"manifest-{new_sid}-del.avro",
        _manifest_entry_schema(2, part_fields),
        entries,
        2,
        spec_id,
        pfields,
        content=1,
    )
    mlist_schema, old_rows = read_avro(_resolve(snap["manifest-list"], path))
    _commit_snapshot(
        path,
        meta,
        new_sid,
        cur,
        new_seq,
        mlist_schema,
        list(old_rows)
        + [
            _manifest_list_row(
                mlist_schema,
                manifest_path,
                spec_id,
                new_sid,
                new_seq,
                content=1,
                added=(len(entries), deleted),
            )
        ],
        {
            "operation": "delete",
            "added-delete-files": str(len(entries)),
            "added-position-deletes": str(deleted),
        },
        branch=branch,
        base_version=base_v,
    )
    return {
        "snapshot_id": new_sid,
        "deleted_rows": deleted,
        "files_touched": len(touched),
    }


def update_iceberg(
    spark: SparkSession,
    path: str,
    predicate: str,
    set_exprs: dict[str, str],
    _allow_uniform: bool = False,
    branch: str | None = None,
) -> dict:
    """Row-level ``UPDATE ... SET`` on a v2 Iceberg table (new r12 —
    Java's ``RowDelta`` commit shape, the Iceberg twin of
    :func:`update_delta`): ONE ``operation=overwrite`` snapshot at
    the next sequence number carrying

    - POSITION-DELETE files retiring the matched rows (the
      :func:`delete_iceberg` machinery via :func:`_posdel_files` —
      no data-file rewrite), and
    - an appended DATA file of the rewritten rows (parquet field ids
      stamped from the table schema).

    The spec's scoping makes this atomic-by-construction: position
    deletes at seq N apply to data files with seq <= N but reference
    the OLD files by path, so the new data file — at the same seq —
    is untouched. ``set_exprs`` maps column -> SQL expression, every
    expression evaluated against the OLD row (standard UPDATE
    semantics), results cast back to the column's table type.

    PARTITIONED tables work (new r12): the rewritten rows write per
    partition (identity + bucket transforms, ``upsert_iceberg``'s
    data side) and both manifests carry real partition structs — the
    delete entries copy each data file's struct from the snapshot
    mapping, the data entries parse the written paths. A SET on a
    partition source column moves rows between partitions naturally.
    Format-version 1 refuses (no sequence numbers to scope position
    deletes). ``rewrite_data_files`` later folds the delete files in.

    Scale: one scan finds the matched rows; per-file delete parquets
    are written on executors; the rewritten rows go through the
    distributed parquet writer; the commit appends two manifests to
    the carried-forward manifest list — KB-scale driver work."""
    from pyspark.sql import functions as F

    if not _allow_uniform:
        _refuse_uniform_iceberg(path, "update_iceberg")
    meta, base_v, cur, snap, default_spec = _open_parent(
        path,
        "update_iceberg",
        branch,
        v2_reason="v1 has no sequence numbers to scope position deletes",
    )
    fields = _current_schema(path).get("fields", [])
    # partitioned tables (new r12): the rewritten rows write per
    # partition (identity + bucket, the exporter's transforms) and
    # BOTH manifests carry real partition structs — the delete side
    # copies each data file's struct from the snapshot mapping, the
    # data side parses the written paths
    pspecs = _parse_pspecs(meta, default_spec, fields, "update_iceberg")
    tbl_cols = [f["name"] for f in fields]
    bad = sorted(set(set_exprs) - set(tbl_cols))
    if bad:
        raise ValueError(f"update_iceberg: unknown SET columns {bad}")
    if not set_exprs:
        raise ValueError("update_iceberg: empty SET clause")
    mapping, pos_files, eq_deletes = _live_files(path, cur)
    if not mapping:
        raise FileNotFoundError(
            f"Iceberg table at {path} has no live data files"
        )
    # LIVE rows only (prior position/equality deletes applied): a
    # predicate matching a retired row must neither re-record its
    # position nor RESURRECT it via the rewritten data file
    data = _live_scan(
        spark, path, mapping, pos_files, eq_deletes, with_positions=True
    )
    matched = data.filter(predicate)
    touched = _posdel_files(
        spark,
        path,
        matched.select("_ice_fp", "_ice_pos"),
        mapping,
        "update_iceberg",
    )
    if not touched:
        return {"snapshot_id": None, "updated_rows": 0, "files_touched": 0}
    # rewritten rows: every SET expression binds the OLD row; types
    # pinned back via the scanned schema. No parquet field ids — the
    # exporter's data files carry none, and one id-stamped file in a
    # multi-file scan makes Spark demand ids from ALL of them
    # (upsert_iceberg's data side makes the same choice; name
    # resolution is the layout's contract).
    old_rows = matched.drop("_ice_fp", "_ice_pos")
    new_rows = old_rows.select(
        *[
            (
                F.expr(set_exprs[c]).cast(old_rows.schema[c].dataType)
                if c in set_exprs
                else F.col(c)
            ).alias(c)
            for c in old_rows.columns
        ]
    )
    data_dir = os.path.join(path, "data")
    before = _data_files_on_disk(data_dir)
    if pspecs:
        _write_partitioned_data(new_rows, data_dir, pspecs)
    else:
        new_rows.write.mode("append").parquet(data_dir)
    new_data = sorted(_data_files_on_disk(data_dir) - before)

    new_sid = _new_snapshot_id()
    new_seq = int(meta.get("last-sequence-number") or 0) + 1
    spec_id = default_spec.get("spec-id", 0)
    entry_schema = _manifest_entry_schema(2, _part_fields(pspecs))
    data_entries = [
        _added_entry(
            new_sid,
            f,
            _pvals_from_path(f, path, pspecs, "update_iceberg")
            if pspecs
            else {},
        )
        for f in new_data
    ]
    # delete entries copy each data file's partition struct from the
    # snapshot mapping (partition-scoped deletes, like delete_iceberg)
    touched = sorted(touched, key=lambda r: r["recorded"])
    del_entries = [
        _added_entry(
            new_sid,
            r["file"],
            dict(mapping[r["recorded"]][2]) if pspecs else {},
            content=1,
            record_count=int(r["n"]),
            size=int(r["size"]),
        )
        for r in touched
    ]
    updated = sum(e["data_file"]["record_count"] for e in data_entries)
    del_positions = sum(int(r["n"]) for r in touched)
    spec_fields = default_spec.get("fields", [])
    data_mp = _write_manifest(
        path,
        f"manifest-{new_sid}-upd-data.avro",
        entry_schema,
        data_entries,
        2,
        spec_id,
        spec_fields,
    )
    del_mp = _write_manifest(
        path,
        f"manifest-{new_sid}-upd-del.avro",
        entry_schema,
        del_entries,
        2,
        spec_id,
        spec_fields,
        content=1,
    )
    mlist_schema, old_mrows = read_avro(_resolve(snap["manifest-list"], path))
    _commit_snapshot(
        path,
        meta,
        new_sid,
        cur,
        new_seq,
        mlist_schema,
        list(old_mrows)
        + [
            _manifest_list_row(
                mlist_schema,
                data_mp,
                spec_id,
                new_sid,
                new_seq,
                added=(len(new_data), updated),
            ),
            _manifest_list_row(
                mlist_schema,
                del_mp,
                spec_id,
                new_sid,
                new_seq,
                content=1,
                added=(len(touched), del_positions),
            ),
        ],
        {
            "operation": "overwrite",
            "added-data-files": str(len(new_data)),
            "added-delete-files": str(len(touched)),
            "added-position-deletes": str(del_positions),
            "added-records": str(updated),
        },
        branch=branch,
        base_version=base_v,
    )
    return {
        "snapshot_id": new_sid,
        "updated_rows": updated,
        "files_touched": len(touched),
        "new_files": len(new_data),
    }


def tag_iceberg(
    path: str, name: str, snapshot_id: int | None = None
) -> dict:
    """Create or move a named TAG ref (new r11 — the v2 ``refs`` map,
    Java's ``manageSnapshots().createTag``): pins ``snapshot_id``
    (default current) under ``refs[name]`` in one metadata-only
    commit. ``read_iceberg(ref=name)`` resolves it, and
    ``expire_snapshots`` RETAINS tagged snapshots until the tag is
    dropped (``drop_ref_iceberg``) — Java's ref-aware retention."""
    meta = json.load(open(_current_metadata_path(path)))
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    if snapshot_id not in by_id:
        raise ValueError(f"snapshot {snapshot_id} not in table metadata")
    new_meta = dict(meta)
    refs = dict(meta.get("refs") or {})
    refs[name] = {"snapshot-id": snapshot_id, "type": "tag"}
    new_meta["refs"] = refs
    new_meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(path, new_meta)
    return {"name": name, "snapshot_id": snapshot_id}


def _branch_head(meta: dict, branch: str, what: str) -> int:
    """Resolve a writable branch ref's head — shared by every writer
    taking ``branch=``."""
    r = (meta.get("refs") or {}).get(branch)
    if r is None or r.get("type") != "branch":
        raise ValueError(
            f"{what}: branch {branch!r} not in table refs — create "
            "it with branch_iceberg(path, name) first"
        )
    return r["snapshot-id"]


def branch_iceberg(
    path: str, name: str, snapshot_id: int | None = None
) -> dict:
    """Create or move a named BRANCH ref (new r12 — the writable half
    of the v2 ``refs`` map, Java's ``manageSnapshots().createBranch``
    — complementing r11's tags): points ``refs[name]`` (type
    ``branch``) at ``snapshot_id`` (default current) in one
    metadata-only commit. Writers advance it via their ``branch=``
    argument (``export_iceberg(mode='append', branch=...)``,
    ``delete_iceberg(branch=...)``) WITHOUT moving the main lineage;
    ``read_iceberg(ref=name)`` resolves the branch head;
    ``read_iceberg_changelog(ref=name)`` scopes the change scan to
    it; ``expire_snapshots`` retains the branch head AND its
    ancestors until ``drop_ref_iceberg`` removes the ref."""
    meta = json.load(open(_current_metadata_path(path)))
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    if snapshot_id not in by_id:
        raise ValueError(f"snapshot {snapshot_id} not in table metadata")
    new_meta = dict(meta)
    refs = dict(meta.get("refs") or {})
    refs[name] = {"snapshot-id": snapshot_id, "type": "branch"}
    new_meta["refs"] = refs
    new_meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(path, new_meta)
    return {"name": name, "snapshot_id": snapshot_id}


def drop_ref_iceberg(path: str, name: str) -> dict:
    """Remove a named ref; its snapshot becomes expirable again."""
    meta = json.load(open(_current_metadata_path(path)))
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(f"ref {name!r} not in table metadata")
    dropped = refs.pop(name)
    new_meta = dict(meta)
    new_meta["refs"] = refs
    new_meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(path, new_meta)
    return {"name": name, "snapshot_id": dropped.get("snapshot-id")}


def rollback_iceberg(path: str, snapshot_id: int) -> dict:
    """ROLLBACK to an ancestor snapshot (new r11 — Java's
    ``manageSnapshots().rollbackTo``): a metadata-only commit that
    points ``current-snapshot-id`` back at the target. The target
    must be an ANCESTOR of the current snapshot (rolling "back" to a
    divergent branch would silently drop its history); abandoned
    descendants stay in ``snapshots`` for time travel until
    ``expire_snapshots`` cleans them, and the next append chains its
    parent from the rolled-back snapshot — the Java semantics.

    Scale: a KB-scale metadata rewrite; no data or manifests move."""
    _refuse_uniform_iceberg(path, "rollback_iceberg")
    meta = json.load(open(_current_metadata_path(path)))
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if snapshot_id not in by_id:
        raise ValueError(f"snapshot {snapshot_id} not in table metadata")
    cur = meta.get("current-snapshot-id")
    if snapshot_id == cur:
        return {"current_snapshot_id": cur, "rolled_back": False}
    walk = cur
    while walk is not None and walk != snapshot_id:
        walk = (by_id.get(walk) or {}).get("parent-snapshot-id")
    if walk != snapshot_id:
        raise ValueError(
            f"snapshot {snapshot_id} is not an ancestor of the "
            f"current snapshot {cur} — rollback only walks the "
            "current lineage"
        )
    now_ms = int(time.time() * 1000)
    new_meta = dict(meta)
    new_meta["current-snapshot-id"] = snapshot_id
    new_meta["last-updated-ms"] = now_ms
    new_meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
        {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
    ]
    _commit_metadata(path, new_meta)
    return {"current_snapshot_id": snapshot_id, "rolled_back": True}


def read_iceberg_changelog(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """CHANGELOG scan (new r11 — Java's ``ChangelogScan`` /
    ``create_changelog_view``): every row-level change committed by
    the snapshots in (``from``, ``to``] (exclusive from, inclusive
    to — the incremental-read convention), as the table columns plus
    ``_change_type`` ('insert'/'delete') and ``_change_ordinal``
    (0-based commit position within the range).

    Per-snapshot derivation by operation:

    - ``append`` -> ONE pruned scan of exactly the snapshot's new
      data files (no diffing);
    - ``replace`` (rewrite_manifests / rewrite_data_files) -> no
      changes: compaction moves bytes, never rows;
    - ``delete`` / ``overwrite`` (position deletes, equality-delete
      upserts) -> the STATE DIFF between the snapshot and its parent
      (two snapshot reads + exceptAll both ways), which nets the
      delete-file semantics exactly: a position delete re-recording
      an already-dead row emits nothing, an upsert emits
      delete(old row) + insert(new row) per changed key. An upsert
      that rewrites a key with IDENTICAL values nets to no change —
      the one divergence from Java's file-level derivation, and the
      semantically truthful answer.

    Scale: appends stay incremental (scan only the new files); only
    genuinely row-level snapshots pay the state diff, the same order
    of work Java's changelog does resolving delete files against
    their affected data files. The whole chain's row-level diffs are
    evaluated as ONE weighted count-aggregate (r14 — the Delta
    ``_dv_ver`` range-batch pattern): the plan carries one
    aggregation exchange regardless of how many delete/overwrite
    boundaries the range spans; only a mid-chain column-list change
    splits the batch."""
    from pyspark.sql import functions as F

    meta = json.load(open(_current_metadata_path(path)))
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if from_snapshot_id not in by_id:
        raise ValueError(
            f"snapshot {from_snapshot_id} not in table metadata"
        )
    if ref is not None:
        # scope the scan to a named ref's head (new r12 — branch-
        # scoped changelog; works for tags too)
        if to_snapshot_id is not None:
            raise ValueError("ref is exclusive with to_snapshot_id")
        r = (meta.get("refs") or {}).get(ref)
        if r is None:
            raise ValueError(f"ref {ref!r} not in table metadata")
        to_snapshot_id = r.get("snapshot-id")
    if to_snapshot_id is None:
        to_snapshot_id = meta.get("current-snapshot-id")
    if to_snapshot_id not in by_id:
        raise ValueError(f"snapshot {to_snapshot_id} not in table metadata")
    chain: list[dict] = []
    cur: int | None = to_snapshot_id
    while cur is not None and cur != from_snapshot_id:
        s = by_id.get(cur)
        if s is None:
            break
        chain.append(s)
        cur = s.get("parent-snapshot-id")
    if cur != from_snapshot_id:
        raise ValueError(
            f"snapshot {from_snapshot_id} is not an ancestor of "
            f"{to_snapshot_id}"
        )
    chain.reverse()

    def stamped(df: DataFrame, change: str, ordinal: int) -> DataFrame:
        return df.select(
            "*",
            F.lit(change).alias("_change_type"),
            F.lit(ordinal).alias("_change_ordinal"),
        )

    frames: list[DataFrame] = []
    tbl_cols = _table_columns(path)
    # r13: consecutive row-level snapshots read the SAME state twice —
    # snapshot v is the diff's "now" at ordinal k and its "then" at
    # ordinal k+1 (plan audit: the whole live-rows-minus-deletes
    # subtree appeared once per use; ReusedExchange never fires).
    # Materialize only the states the chain uses more than once.
    _uses: dict[int, int] = {}
    for s in chain:
        if (s.get("summary") or {}).get("operation", "append") in (
            "delete",
            "overwrite",
        ):
            _uses[s["snapshot-id"]] = _uses.get(s["snapshot-id"], 0) + 1
            p = s.get("parent-snapshot-id")
            if p is not None:
                _uses[p] = _uses.get(p, 0) + 1
    _state_cache: dict[int, DataFrame] = {}

    def _state(sid: int) -> DataFrame:
        if sid not in _state_cache:
            df = read_iceberg(spark, path, snapshot_id=sid)
            if _uses.get(sid, 0) > 1:
                df = df.localCheckpoint(eager=True)
            _state_cache[sid] = df
        return _state_cache[sid]

    # r14: batch the row-level diffs ACROSS the whole chain (the
    # Delta _dv_ver pattern). Per boundary, the old shape was a
    # then.exceptAll(now) / now.exceptAll(then) pair — Spark rewrites
    # each exceptAll into its own count-aggregate + replicate, so a
    # k-boundary chain paid 2k aggregation shuffles. exceptAll is
    # multiset difference: then minus now emits each row
    # max(count_then - count_now, 0) times, and vice versa. So tag
    # every boundary's parent-state rows +1 and its own-state rows
    # -1 on the boundary ordinal, aggregate ONCE by (ordinal, row)
    # summing the weights, and replicate: sum = n > 0 means n
    # deletes, n < 0 means |n| inserts — exactly both exceptAlls of
    # every boundary, in ONE shuffle for the whole chain. Batches
    # split only when a boundary's column list differs (mid-chain
    # schema change: the union legs must share one schema).
    pend_rl: list[tuple[int, DataFrame, DataFrame]] = []
    pend_rl_cols: list[str] | None = None

    def _flush_rowlevel() -> None:
        nonlocal pend_rl_cols
        if not pend_rl:
            return
        cols = list(pend_rl_cols or [])
        legs: list[DataFrame] = []
        for ordinal, now_df, then_df in pend_rl:
            legs.append(
                then_df.select(
                    F.lit(ordinal).alias("_change_ordinal"),
                    F.lit(1).alias("_w"),
                    *cols,
                )
            )
            legs.append(
                now_df.select(
                    F.lit(ordinal).alias("_change_ordinal"),
                    F.lit(-1).alias("_w"),
                    *cols,
                )
            )
        u = legs[0]
        for leg in legs[1:]:
            u = u.unionByName(leg)
        net = (
            u.groupBy("_change_ordinal", *cols)
            .agg(F.sum("_w").alias("_net"))
            .where(F.col("_net") != 0)
        )
        frames.append(
            net.select(
                *cols,
                F.when(F.col("_net") > 0, F.lit("delete"))
                .otherwise(F.lit("insert"))
                .alias("_change_type"),
                F.col("_change_ordinal"),
                F.explode(
                    F.sequence(
                        F.lit(1), F.abs(F.col("_net")).cast("int")
                    )
                ).alias("_rep"),
            ).drop("_rep")
        )
        pend_rl.clear()
        pend_rl_cols = None

    for ordinal, s in enumerate(chain):
        sid = s["snapshot-id"]
        parent = s.get("parent-snapshot-id")
        op = (s.get("summary") or {}).get("operation", "append")
        if op == "replace":
            continue  # compaction: bytes move, rows do not
        if op == "append":
            here, _, _ = _live_files(path, sid)
            there = set()
            if parent is not None and parent in by_id:
                pm, _, _ = _live_files(path, parent)
                there = set(pm)
            new_files = sorted(
                v for k, (v, _sq, _p) in here.items() if k not in there
            )
            if not new_files:
                continue
            df = spark.read.option("basePath", path).parquet(*new_files)
            keep = [c for c in tbl_cols if c in df.columns]
            if keep and set(keep) != set(df.columns):
                df = df.select(*keep)
            frames.append(stamped(df, "insert", ordinal))
            continue
        if op not in ("delete", "overwrite"):
            raise UnsupportedIcebergFeature(
                f"changelog across operation {op!r} snapshot {sid}"
            )
        if parent is None or parent not in by_id:
            raise UnsupportedIcebergFeature(
                f"changelog: snapshot {sid}'s parent was expired — "
                "cannot diff a row-level commit without it"
            )
        now_df = _state(sid)
        then_df = _state(parent).select(*now_df.columns)
        if pend_rl and pend_rl_cols != now_df.columns:
            _flush_rowlevel()
        pend_rl_cols = now_df.columns
        pend_rl.append((ordinal, now_df, then_df))
    _flush_rowlevel()
    if not frames:
        empty = read_iceberg(spark, path, snapshot_id=to_snapshot_id)
        return stamped(empty, "insert", 0).limit(0)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _parse_pspecs(
    meta: dict, default_spec: dict, fields: list, what: str
) -> list[dict]:
    """Parsed partition-field specs for the writers (identity +
    bucket transforms, the exporter's surface) — shared by
    :func:`rewrite_data_files`, :func:`upsert_iceberg` and
    :func:`update_iceberg`."""
    names_by_id = _field_names_by_id(meta)
    schema_types = {f["name"]: f["type"] for f in fields}
    pspecs: list[dict] = []
    for pf in default_spec.get("fields", []):
        tr = pf.get("transform")
        bm = re.match(r"^bucket\[(\d+)\]$", tr or "")
        if tr != "identity" and not bm:
            raise UnsupportedIcebergFeature(
                f"{what} over unsupported partition transform {tr!r}"
            )
        src = names_by_id.get(pf.get("source-id"))
        t = schema_types.get(src)
        if src is None or t not in _PART_AVRO:
            raise UnsupportedIcebergFeature(
                f"{what}: partition field {pf.get('name')!r} "
                f"has unresolvable source or type {t!r}"
            )
        pspecs.append(
            {
                "fname": pf["name"],
                "src": src,
                "src_type": t,
                "out_type": "int" if bm else t,
                "n": int(bm.group(1)) if bm else None,
                "fid": int(pf.get("field-id", 1000)),
            }
        )
    return pspecs


def _with_partition_shadows(
    df: DataFrame, pspecs: list[dict]
) -> tuple[DataFrame, list[str]]:
    """``df`` plus one shadow ``_p_<field>`` column per partition field
    and the shadow names — the exporter's hive layout (source columns
    stay in the files). Identity copies the source column; a bucket
    value comes from the golden-tested spec transform in an
    Arrow-batched pandas UDF (executors only). Shared by every writer;
    each keeps its own repartition/write call."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def _make_bkt(nb, st):
        @pandas_udf("int")
        def _bkt(s: pd.Series) -> pd.Series:
            # pd.isna, not `is None`: Arrow hands a nullable int
            # column to pandas as float64 with NaN
            return s.map(
                lambda v: None if pd.isna(v) else iceberg_bucket(v, st, nb)
            ).astype("Int32")

        return _bkt

    w = df
    for ps in pspecs:
        src = F.col(ps["src"])
        w = w.withColumn(
            f"_p_{ps['fname']}",
            src
            if ps["n"] is None
            else _make_bkt(ps["n"], ps["src_type"])(src),
        )
    return w, [f"_p_{ps['fname']}" for ps in pspecs]


def _write_partitioned_data(
    df: DataFrame, data_dir: str, pspecs: list[dict]
) -> None:
    """Distributed append under the shadow ``_p_*`` hive dirs —
    :func:`update_iceberg`'s and :func:`upsert_iceberg`'s data side."""
    w, shadows = _with_partition_shadows(df, pspecs)
    w.write.partitionBy(*shadows).mode("append").parquet(data_dir)


def _pvals_from_path(
    full: str, path: str, pspecs: list[dict], what: str
) -> dict:
    """Partition values parsed from a written file's ``_p_<field>=``
    hive path segments, typed per the pspec — shared by the
    writers."""
    import urllib.parse

    types = {ps["fname"]: ps["out_type"] for ps in pspecs}
    vals: dict = {}
    rel = os.path.relpath(os.path.abspath(full), os.path.abspath(path))
    for comp in rel.split(os.sep)[:-1]:
        if "=" not in comp:
            continue
        k, _, raw = comp.partition("=")
        c = k[len("_p_"):] if k.startswith("_p_") else k
        if c not in types:
            continue
        raw = urllib.parse.unquote(raw)
        if raw == "__HIVE_DEFAULT_PARTITION__":
            vals[c] = None
        else:
            vals[c] = int(raw) if types[c] != "string" else raw
    missing = [f for f in types if f not in vals]
    if missing:
        raise UnsupportedIcebergFeature(
            f"{what}: file {full!r} carries no {missing} "
            "partition path segment"
        )
    return vals


def upsert_iceberg(
    spark: SparkSession,
    path: str,
    df: DataFrame | None,
    key_cols: Sequence[str],
    deletes: DataFrame | None = None,
    data_files: Sequence[str] | None = None,
    _allow_uniform: bool = False,
    branch: str | None = None,
    evolve_schema: bool = False,
) -> dict:
    """Keyed UPSERT commit on a v2 Iceberg table — the Flink Iceberg
    sink's UPSERT-mode shape (new r11): ONE ``overwrite`` snapshot
    carrying (a) a data manifest of the new rows and (b) an
    EQUALITY-DELETE manifest whose delete file lists the upserted
    keys with ``equality_ids`` naming the key columns' field ids.
    The spec's strict sequence scoping (a delete applies only to
    data files with a STRICTLY SMALLER sequence number) makes the
    delete retire every key's OLD row while the batch's own data
    file — at the same sequence number — survives: last-writer-wins
    per key, exactly how Flink's CDC-fed Iceberg sink commits
    upserts per checkpoint. Reference parity: the reference's
    flagship pipeline is Flink CDC upserting into Hudi MoR
    (CDC-Hudi-Notebook.zpln); this is the same changelog semantics
    landed on an Iceberg v2 table.

    ``df`` must be key-unique (two rows with one key in the SAME
    batch would both survive the same-seq scoping — the engine
    raises rather than committing ambiguity; dedup upstream with the
    keyed LWW operators). New keys insert, existing keys update, and
    ``rewrite_data_files`` later materializes the accumulated delete
    files. PARTITIONED v2 tables work too (new r11): the data side
    writes per partition (identity + bucket transforms, one manifest
    with real partition structs) while the equality deletes go
    GLOBAL under an UNPARTITIONED spec — minted into
    ``partition-specs`` on first use — the spec's global-delete
    shape that applies across every partition.

    ``deletes`` (new r11, the CDC ``D`` leg): a keys-only frame
    whose keys are retired WITHOUT replacement — they ride the same
    equality-delete file as the upserted keys. A key in both ``df``
    and ``deletes`` is ambiguous and raises; ``df=None`` commits a
    delete-only snapshot (operation ``delete``).

    Scale: the data and the distinct-key delete frame are both
    distributed parquet writes (keys re-read from the JUST-WRITTEN
    data files so the two sides can never diverge on a
    nondeterministic source); the commit is a metadata append —
    existing manifests are carried forward untouched, KB-scale
    driver work."""
    from pyspark.sql import functions as F

    if not _allow_uniform:
        _refuse_uniform_iceberg(path, "upsert_iceberg")

    meta, base_v, cur, snap, default_spec = _open_parent(
        path,
        "upsert_iceberg",
        branch,
        v2_reason="equality deletes need sequence numbers",
    )
    fields = _current_schema(path).get("fields", [])
    ids_by_name = {f["name"]: int(f["id"]) for f in fields}
    tbl_cols = [f["name"] for f in fields]
    # partitioned tables (new r11): the DATA side writes per
    # partition (identity + bucket, the exporter's transforms); the
    # equality deletes go GLOBAL under an UNPARTITIONED spec — the
    # spec's global-delete shape, which applies to every partition
    pspecs = _parse_pspecs(meta, default_spec, fields, "upsert_iceberg")
    key_cols = list(key_cols)
    unknown = [c for c in key_cols if c not in ids_by_name]
    if not key_cols or unknown:
        raise ValueError(
            f"upsert_iceberg: key columns {unknown or key_cols} not in "
            f"table schema {tbl_cols}"
        )
    if df is None and deletes is None and data_files is None:
        raise ValueError(
            "upsert_iceberg: need df, data_files and/or deletes"
        )
    if df is not None and data_files is not None:
        raise ValueError("upsert_iceberg: df and data_files are exclusive")
    if data_files is not None and pspecs:
        raise UnsupportedIcebergFeature(
            "upsert_iceberg: data_files injection over a PARTITIONED "
            "table is not supported"
        )
    new_cols = (
        [c for c in df.columns if c not in tbl_cols]
        if df is not None
        else []
    )
    if df is not None and (
        sorted(set(tbl_cols) - set(df.columns)) != []
        or (new_cols and not evolve_schema)
    ):
        raise ValueError(
            f"upsert_iceberg: frame columns {sorted(df.columns)} != "
            f"table columns {sorted(tbl_cols)}"
            + (
                f" (new columns {new_cols} need evolve_schema=True)"
                if new_cols and not (set(tbl_cols) - set(df.columns))
                else ""
            )
        )
    evolved_schema = None
    if new_cols:
        # ADD-COLUMN schema evolution (new r13 — VERDICT r12 ask #5):
        # assign FRESH field ids past last-column-id, append a new
        # schema (new schema-id) to `schemas`, and bump
        # current-schema-id — the spec's evolution shape; old data
        # files have no values for the new ids and readers
        # null-backfill them
        by_name = {
            f["name"]: f for f in _iceberg_schema(df)["fields"]
        }
        next_id = int(
            meta.get("last-column-id")
            or max((f["id"] for f in fields), default=0)
        )
        added = []
        for c in new_cols:
            next_id += 1
            added.append(
                {
                    "id": next_id,
                    "name": c,
                    "required": False,
                    "type": by_name[c]["type"],
                }
            )
        old_ids = [int(s.get("schema-id", 0)) for s in (
            meta.get("schemas") or [meta.get("schema") or {}]
        )]
        evolved_schema = {
            "type": "struct",
            "schema-id": max(old_ids, default=0) + 1,
            "fields": list(fields) + added,
        }
        meta = dict(meta)
        meta["schemas"] = list(meta.get("schemas") or (
            [meta["schema"]] if meta.get("schema") else []
        )) + [evolved_schema]
        meta["current-schema-id"] = evolved_schema["schema-id"]
        meta["last-column-id"] = next_id
        if "schema" in meta:
            # legacy single-schema key: keep it consistent (readers
            # like _current_schema prefer it when present)
            meta["schema"] = evolved_schema
        fields = evolved_schema["fields"]
        ids_by_name = {f["name"]: int(f["id"]) for f in fields}
        tbl_cols = [f["name"] for f in fields]
    if deletes is not None and set(deletes.columns) != set(key_cols):
        raise ValueError(
            f"upsert_iceberg: deletes columns {sorted(deletes.columns)}"
            f" != key columns {sorted(key_cols)}"
        )
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    new_data: list[str] = []
    n_rows = 0
    kdf = None
    if df is not None:
        before = _data_files_on_disk(data_dir)
        w = df.select(*tbl_cols)
        if pspecs:
            _write_partitioned_data(w, data_dir, pspecs)
        else:
            w.write.mode("append").parquet(data_dir)
        new_data = sorted(_data_files_on_disk(data_dir) - before)
    elif data_files is not None:
        # injected SHARED files (the UniForm path): already on disk
        # and possibly already committed to another format's metadata
        # — never removed on abort
        new_data = sorted(os.path.abspath(f) for f in data_files)
    n_keys = 0
    if new_data:
        # keys come from the WRITTEN rows (one source of truth even
        # for nondeterministic inputs); the scan proves uniqueness.
        # r14 (§2.6): rows + distinct keys in ONE aggregate job
        # (groupBy-then-count keeps dropDuplicates' null-key
        # semantics, which countDistinct would not).
        rd = spark.read
        if df is not None:
            # schema already known from the batch: skip the footer
            # schema-inference job (r14 §2.6)
            rd = rd.schema(df.select(*tbl_cols).schema)
        written = rd.parquet(*new_data)
        n_rows, n_keys = (
            written.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(
                F.coalesce(F.sum("_c"), F.lit(0)),
                F.count(F.lit(1)),
            )
            .first()
        )
        kdf = written.select(*key_cols).dropDuplicates()
        if n_keys != n_rows:
            if data_files is None:
                for f in new_data:
                    os.remove(f)  # abort cleanly: nothing committed yet
            raise ValueError(
                f"upsert_iceberg: batch has {n_rows} rows but "
                f"{n_keys} distinct keys over {key_cols} — dedup to "
                "one row per key first (same-seq rows would BOTH "
                "survive)"
            )
    n_del = 0
    if deletes is not None:
        ddf = deletes.select(*key_cols).dropDuplicates()
        if kdf is not None:
            # r14 (§2.6): deletes count + batch-key overlap in ONE
            # job (kdf is deduped, so each ddf row joins at most one
            # kdf row; count("_m") = the old semi-join count, with
            # identical null-key never-matches semantics)
            n_del, overlap = (
                ddf.join(
                    kdf.withColumn("_m", F.lit(1)), key_cols, "left"
                )
                .agg(F.count(F.lit(1)), F.count("_m"))
                .first()
            )
            if overlap:
                if data_files is None:
                    for f in new_data:
                        os.remove(f)
                raise ValueError(
                    f"upsert_iceberg: {overlap} key(s) appear in BOTH "
                    "df and deletes — upsert-or-delete per key is "
                    "ambiguous"
                )
            kdf = kdf.unionByName(ddf)
        else:
            n_del = ddf.count()
            kdf = ddf
    # after the overlap gate the union is disjoint, so its size is
    # n_keys + n_del — no extra count job (r14; this was a third
    # count over kdf)
    if kdf is None or (n_keys + n_del) == 0:
        return {"snapshot_id": None, "rows": 0}  # empty batch
    kdf = kdf.select(
        *(
            kdf[c].alias(
                c, metadata={"parquet.field.id": ids_by_name[c]}
            )
            for c in key_cols
        )
    )
    before = _data_files_on_disk(data_dir)
    kdf.write.mode("append").parquet(data_dir)
    new_del = sorted(_data_files_on_disk(data_dir) - before)

    new_sid = _new_snapshot_id()
    new_seq = int(meta.get("last-sequence-number") or 0) + 1
    key_ids = [ids_by_name[c] for c in key_cols]
    spec_id = int(default_spec.get("spec-id", 0))
    # global equality deletes live under an UNPARTITIONED spec; reuse
    # one if the table has it, else mint it in this commit's metadata
    del_spec_id = spec_id
    if pspecs:
        unpart = next(
            (
                s
                for s in meta.get("partition-specs", [])
                if not s.get("fields")
            ),
            None,
        )
        if unpart is None:
            unpart = {
                "spec-id": max(
                    int(s.get("spec-id", 0))
                    for s in meta.get("partition-specs", [{}])
                )
                + 1,
                "fields": [],
            }
            meta = dict(meta)
            meta["partition-specs"] = list(
                meta.get("partition-specs", [])
            ) + [unpart]
        del_spec_id = int(unpart.get("spec-id", 0))
    mlist_schema, old_rows = read_avro(_resolve(snap["manifest-list"], path))
    mlist_rows = list(old_rows)
    data_rows = 0
    if new_data:
        entries = [
            _added_entry(
                new_sid,
                f,
                _pvals_from_path(f, path, pspecs, "upsert_iceberg")
                if pspecs
                else {},
            )
            for f in new_data
        ]
        data_rows = sum(e["data_file"]["record_count"] for e in entries)
        data_mp = _write_manifest(
            path,
            f"manifest-{new_sid}-ups-data.avro",
            _manifest_entry_schema(2, _part_fields(pspecs), equality_ids=True),
            entries,
            2,
            spec_id,
            default_spec.get("fields", []),
        )
        mlist_rows.append(
            _manifest_list_row(
                mlist_schema,
                data_mp,
                spec_id,
                new_sid,
                new_seq,
                added=(len(new_data), data_rows),
            )
        )
    del_entries = [
        _added_entry(new_sid, f, {}, content=2, equality_ids=key_ids)
        for f in new_del
    ]
    del_mp = _write_manifest(
        path,
        f"manifest-{new_sid}-ups-del.avro",
        _manifest_entry_schema(2, equality_ids=True),
        del_entries,
        2,
        del_spec_id,
        [],
        content=2,
    )
    mlist_rows.append(
        _manifest_list_row(
            mlist_schema,
            del_mp,
            del_spec_id,
            new_sid,
            new_seq,
            content=1,
            added=(
                len(new_del),
                sum(e["data_file"]["record_count"] for e in del_entries),
            ),
        )
    )
    _commit_snapshot(
        path,
        meta,
        new_sid,
        cur,
        new_seq,
        mlist_schema,
        mlist_rows,
        {
            "operation": "overwrite" if new_data else "delete",
            "added-data-files": str(len(new_data)),
            "added-delete-files": str(len(new_del)),
            "added-records": str(data_rows),
        },
        branch=branch,
        base_version=base_v,
    )
    return {"snapshot_id": new_sid, "rows": data_rows}


# -- exporter (format-version 1, unpartitioned) -----------------------------

_SPARK_TO_ICEBERG = {
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {
            "name": "snapshot_id",
            "type": ["null", "long"],
            "field-id": 1,
        },
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {
                        "name": "file_size_in_bytes",
                        "type": "long",
                        "field-id": 104,
                    },
                ],
            },
        },
    ],
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {
            "name": "added_snapshot_id",
            "type": ["null", "long"],
            "field-id": 503,
        },
    ],
}


_PART_AVRO = {"int": "int", "long": "long", "string": "string"}


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit (public domain algorithm) — the hash
    the Iceberg spec's bucket transform mandates (Appendix B). Pure
    stdlib; returns a SIGNED 32-bit int like the Java reference.
    Pinned against the spec's published test vectors in
    tests/test_format_goldens.py."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounded = n - (n % 4)
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[rounded:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def iceberg_bucket(value, ice_type: str, n: int) -> int | None:
    """Spec bucket transform: ``(murmur3_32(bytes(v)) & MAX_INT) % n``
    with int/long hashed as 8-byte little-endian longs and strings as
    UTF-8 bytes; NULL stays NULL."""
    import struct as _struct

    if value is None:
        return None
    if ice_type in ("int", "long"):
        data = _struct.pack("<q", int(value))
    else:
        data = str(value).encode("utf-8")
    return (murmur3_32(data) & 0x7FFFFFFF) % n


def _single_value_bytes(ice_type: str, v) -> bytes:
    """Iceberg single-value binary serialization for bound values
    (spec Appendix D): int/date = 4-byte LE, long/timestamp(micros)
    = 8-byte LE, float/double = IEEE LE, boolean = 0x00/0x01,
    string = UTF-8 bytes."""
    import datetime as _dt
    import struct as _struct

    if ice_type == "int":
        return _struct.pack("<i", int(v))
    if ice_type == "long":
        return _struct.pack("<q", int(v))
    if ice_type == "float":
        return _struct.pack("<f", float(v))
    if ice_type == "double":
        return _struct.pack("<d", float(v))
    if ice_type == "boolean":
        return b"\x01" if v else b"\x00"
    if ice_type == "date":
        days = (
            (v - _dt.date(1970, 1, 1)).days
            if isinstance(v, _dt.date)
            else int(v)
        )
        return _struct.pack("<i", days)
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(v, _dt.datetime):
            epoch = _dt.datetime(1970, 1, 1)
            v = int((v.replace(tzinfo=None) - epoch).total_seconds() * 1_000_000)
        return _struct.pack("<q", int(v))
    return str(v).encode("utf-8")


def _single_value_from_bytes(ice_type: str, b: bytes):
    """Inverse of ``_single_value_bytes`` — decodes a manifest
    entry's lower/upper bound back to a comparable Python value.
    Returns None for types this reader does not prune on."""
    import datetime as _dt
    import struct as _struct

    try:
        if ice_type == "int":
            return _struct.unpack("<i", b)[0]
        if ice_type == "long":
            return _struct.unpack("<q", b)[0]
        if ice_type == "float":
            return _struct.unpack("<f", b)[0]
        if ice_type == "double":
            return _struct.unpack("<d", b)[0]
        if ice_type == "boolean":
            return bool(b[0])
        if ice_type == "date":
            return _dt.date(1970, 1, 1) + _dt.timedelta(
                days=_struct.unpack("<i", b)[0]
            )
        if ice_type in ("timestamp", "timestamptz"):
            return _dt.datetime(1970, 1, 1) + _dt.timedelta(
                microseconds=_struct.unpack("<q", b)[0]
            )
        if ice_type == "string":
            return b.decode("utf-8")
    except (ValueError, IndexError, UnicodeDecodeError):
        return None
    return None


# spec "Manifests": the four per-file stats maps with their reserved
# field ids — Avro map-as-array-of-record encoding (int keys cannot
# ride Avro's string-keyed map type)
_STATS_MAP_FIELDS = (
    ("value_counts", 109, 119, 120, "long"),
    ("null_value_counts", 110, 121, 122, "long"),
    ("lower_bounds", 125, 126, 127, "bytes"),
    ("upper_bounds", 128, 129, 130, "bytes"),
)


def _stats_map_schema_fields() -> list[dict]:
    return [
        {
            "name": name,
            "field-id": fid,
            "default": None,
            "type": [
                "null",
                {
                    "type": "array",
                    "logicalType": "map",
                    "items": {
                        "type": "record",
                        "name": f"k{kid}_v{vid}",
                        "fields": [
                            {"name": "key", "type": "int", "field-id": kid},
                            {
                                "name": "value",
                                "type": vtype,
                                "field-id": vid,
                            },
                        ],
                    },
                },
            ],
        }
        for name, fid, kid, vid, vtype in _STATS_MAP_FIELDS
    ]


def _kv(m: dict) -> list[dict]:
    return [{"key": k, "value": v} for k, v in sorted(m.items())]


def export_iceberg(
    df: DataFrame,
    path: str,
    table_name: str | None = None,
    partition_by: Sequence[str] | None = None,
    format_version: int = 1,
    data_files: Sequence[str] | None = None,
    mode: str = "overwrite",
    branch: str | None = None,
    stats: bool = False,
) -> int:
    """Write ``df`` as a new single-snapshot Iceberg table at
    ``path`` (filesystem catalog layout: data/ parquet + metadata/
    tree with version-hint). ``stats=True`` (new r13) additionally
    records the spec's per-file column statistics in each manifest
    entry — ``value_counts``/``null_value_counts``/``lower_bounds``/
    ``upper_bounds`` maps keyed by field id (Appendix D single-value
    serialization), collected by one distributed parquet-FOOTER pass
    (``sources/filestats.py``) — so ``read_iceberg_pruned`` /
    ``read_iceberg(bounds_filter=...)`` can drop files from the scan
    plan without opening them, the second metadata pruning level
    (after partition summaries) every Iceberg planner uses.
    Data goes through the normal distributed
    parquet writer; only per-file stats (one record per file) pass
    through the driver — the footprint every Iceberg writer's commit
    has. Returns the number of data files.

    ``format_version=2`` writes the v2 metadata shape: the table
    tracks ``last-sequence-number``, the snapshot carries its
    ``sequence-number``, manifest-list entries carry
    ``sequence_number``/``min_sequence_number``/``content`` fields,
    and manifest entries rely on the spec's sequence-number
    INHERITANCE (ADDED entries with a null sequence number inherit
    the manifest's) — the layout v2 readers (including this module's
    own, which applies v2 row-level deletes) expect.

    ``partition_by`` writes a PARTITIONED table external engines can
    prune. Entries are ``"col"`` (identity transform) or
    ``"bucket(N, col)"`` (the spec's murmur3 bucket transform,
    Appendix B — partition field ``col_bucket``, values
    ``(murmur3(v) & MAX_INT) % N``), over int/long/string source
    columns. ONE distributed write grouped by shadow ``_p_<field>=``
    directories (the source columns stay IN the data files, as
    Iceberg writers emit them; bucket numbers are computed by an
    Arrow-batched pandas UDF), then one manifest PER PARTITION whose
    entries carry real ``partition`` structs, and manifest-list
    entries carrying the spec's field summaries (contains_null +
    single-value-encoded lower/upper bounds, equal per
    single-partition manifest) — the two levels Iceberg planners
    prune on. The per-partition manifest loop is driver-side but
    metadata-scale (one small avro per partition, the same commit
    cost any Iceberg writer pays).

    ``data_files`` (absolute parquet paths, already written) skips
    the data write and commits metadata over EXISTING files — the
    UniForm path (``sources/uniform.py``). With ``partition_by``
    (identity transforms only, new r9) partition values are parsed
    from each file's hive ``col=value`` path segments, so one
    partitioned parquet layout can carry BOTH formats' metadata —
    per the Iceberg spec, identity-partition source columns absent
    from the files resolve from the manifest partition structs (the
    hive-migrated-table rule this module's reader implements via
    basePath inference).

    ``mode="append"`` (new r9) commits a SECOND (third, ...) snapshot
    onto an existing exported table: new data files land beside the
    old (Spark append write, or the caller's ``data_files``), get
    their own manifests at the NEXT sequence number, and the new
    manifest list carries the previous snapshot's manifest entries
    forward — a real multi-commit lineage (parent-snapshot-id chain)
    that ``read_iceberg_incremental``, ``expire_snapshots``, and
    ``rewrite_manifests`` all operate on. The appended frame's schema
    and partition spec must equal the table's (raises otherwise);
    format_version is taken FROM the table. Walk-mode appends detect
    new files by diffing against every prior snapshot's reachable
    set, so a file recorded DELETED by an earlier snapshot is never
    resurrected as an add."""
    import urllib.parse

    if format_version not in (1, 2):
        raise ValueError(f"format_version must be 1 or 2, got {format_version}")
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if branch is not None and mode != "append":
        raise ValueError("branch= needs mode='append' (a branch commit "
                         "advances an existing lineage)")
    prev_meta: dict | None = None
    append_head: int | None = None
    if mode == "append":
        # branch commits (new r12 — the writable half of the v2 refs
        # map, Java's toBranch): the parent is the BRANCH head, not
        # the table's current snapshot, and the commit advances only
        # refs[branch] — main lineage and snapshot-log stay put
        prev_meta, _, append_head, prev_snap, _ = _open_parent(
            path, "export_iceberg", branch
        )
        format_version = int(prev_meta.get("format-version", 1))
        prev_fields = _current_schema(path).get("fields", [])
        new_fields = _iceberg_schema(df)["fields"]
        if [(f["name"], f["type"]) for f in prev_fields] != [
            (f["name"], f["type"]) for f in new_fields
        ]:
            raise UnsupportedIcebergFeature(
                "append: frame schema differs from the table schema "
                f"({[(f['name'], f['type']) for f in new_fields]} vs "
                f"{[(f['name'], f['type']) for f in prev_fields]})"
            )
    schema_fields = {f.name: f for f in df.schema.fields}

    def _src_type(c: str) -> str:
        if c not in schema_fields:
            raise ValueError(f"partition_by: unknown column {c!r}")
        t = _SPARK_TO_ICEBERG.get(schema_fields[c].dataType.simpleString())
        if t not in _PART_AVRO:
            raise UnsupportedIcebergFeature(
                f"partition transform over {c}: only int/long/string "
                "partition columns are supported by the exporter"
            )
        return t

    pspecs: list[dict] = []  # parsed partition-field specs
    for j, spec in enumerate(partition_by or []):
        bm = re.match(r"^\s*bucket\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*$", spec)
        if bm:
            nb, c = int(bm.group(1)), bm.group(2)
            pspecs.append(
                {
                    "fname": f"{c}_bucket",
                    "src": c,
                    "transform": f"bucket[{nb}]",
                    "n": nb,
                    "src_type": _src_type(c),
                    "out_type": "int",
                    "fid": 1000 + j,
                }
            )
        else:
            c = spec.strip()
            pspecs.append(
                {
                    "fname": c,
                    "src": c,
                    "transform": "identity",
                    "n": None,
                    "src_type": _src_type(c),
                    "out_type": _src_type(c),
                    "fid": 1000 + j,
                }
            )
    if data_files is not None and pspecs:
        # injection over an existing hive layout (the UniForm path):
        # identity transforms only — partition values come from the
        # files' `col=value` path segments; a bucket value cannot be
        # recovered from a path the injector didn't write
        bad = [ps["fname"] for ps in pspecs if ps["transform"] != "identity"]
        if bad:
            raise ValueError(
                f"data_files injection supports identity partitions "
                f"only (got transforms on {bad})"
            )
    data_dir = os.path.join(path, "data")
    prev_ref: set[str] = set()
    if prev_meta is not None:
        prev_specs = (prev_meta.get("partition-specs") or [{}])[0].get(
            "fields", []
        )
        if [(s["name"], s["transform"]) for s in prev_specs] != [
            (ps["fname"], ps["transform"]) for ps in pspecs
        ]:
            raise UnsupportedIcebergFeature(
                "append: partition spec differs from the table's"
            )
        # every file ANY prior snapshot references (all statuses) —
        # the diff base for walk-mode new-file detection
        for s in prev_meta.get("snapshots", []):
            try:
                _, _, dps = _snapshot_reachable(path, s)
                prev_ref |= dps
            except (FileNotFoundError, OSError):
                continue
    write_mode = "append" if mode == "append" else "overwrite"
    if data_files is not None:
        pass  # files already on disk; no write
    elif pspecs:
        w, shadows = _with_partition_shadows(df, pspecs)
        w.write.partitionBy(*shadows).mode(write_mode).parquet(data_dir)
    else:
        df.write.mode(write_mode).parquet(data_dir)
    out_types = {ps["fname"]: ps["out_type"] for ps in pspecs}
    parts: list[tuple[str, dict]] = []  # (abspath, partition values)
    if data_files is not None:
        for f in sorted(data_files):
            vals: dict[str, object] = {}
            rel = os.path.relpath(
                os.path.abspath(f), os.path.abspath(path)
            )
            for comp in rel.split(os.sep)[:-1]:
                if "=" not in comp:
                    continue
                k, _, raw = comp.partition("=")
                if k not in out_types:
                    continue
                raw = urllib.parse.unquote(raw)
                if raw == "__HIVE_DEFAULT_PARTITION__":
                    vals[k] = None
                else:
                    vals[k] = int(raw) if out_types[k] != "string" else raw
            missing = [c for c in out_types if c not in vals]
            if missing:
                raise ValueError(
                    f"data_files injection: file {f!r} carries no "
                    f"{missing} partition path segment"
                )
            parts.append((os.path.abspath(f), vals))
    for root, _dirs, fs in sorted(os.walk(data_dir)) if data_files is None else []:
        vals: dict[str, object] = {}
        rel_dir = os.path.relpath(root, data_dir)
        for comp in rel_dir.split(os.sep):
            if "=" not in comp:
                continue
            k, _, raw = comp.partition("=")
            if not k.startswith("_p_"):
                continue
            c = k[len("_p_") :]
            raw = urllib.parse.unquote(raw)
            if raw == "__HIVE_DEFAULT_PARTITION__":
                vals[c] = None
            else:
                vals[c] = int(raw) if out_types[c] != "string" else raw
        for f in sorted(fs):
            if f.endswith(".parquet") and not f.startswith("_"):
                full = os.path.join(root, f)
                if full not in prev_ref:  # append: NEW files only
                    parts.append((full, vals))
    snapshot_id = _new_snapshot_id()
    ice_schema = _iceberg_schema(df)
    spec_fields = [
        {
            "name": ps["fname"],
            "transform": ps["transform"],
            "source-id": next(
                f["id"] for f in ice_schema["fields"] if f["name"] == ps["src"]
            ),
            "field-id": ps["fid"],
        }
        for ps in pspecs
    ]
    entry_schema = _manifest_entry_schema(
        format_version, _part_fields(pspecs), stats=stats
    )
    cols = [(f["name"], f["id"], f["type"]) for f in ice_schema["fields"]]
    file_stats: dict[str, dict] = {}
    if stats:
        from .filestats import parquet_footer_stats

        file_stats = parquet_footer_stats(
            df.sparkSession, [full for full, _ in parts]
        )
    mlist_schema = _manifest_list_schema(format_version, bool(pspecs))
    # one manifest per distinct partition tuple: entries carry real
    # partition structs, the manifest list carries per-field bound
    # summaries — both Iceberg pruning levels
    by_part: dict[tuple, list[tuple[str, dict]]] = {}
    for full, vals in parts:
        by_part.setdefault(
            tuple(vals.get(ps["fname"]) for ps in pspecs), []
        ).append((full, vals))
    md = os.path.join(path, _META_DIR)
    os.makedirs(md, exist_ok=True)
    new_seq = (
        int(prev_meta.get("last-sequence-number") or 0) + 1
        if prev_meta is not None
        else 1
    )
    manifest_rows = []
    total_rows = 0
    n_files = 0
    for gi, (key, group) in enumerate(sorted(
        by_part.items(),
        key=lambda kv: tuple((x is None, x) for x in kv[0]),
    )):
        entries = [
            _added_entry(
                snapshot_id,
                full,
                {ps["fname"]: vals.get(ps["fname"]) for ps in pspecs},
                stats=(
                    _stats_maps(file_stats[full], cols)
                    if full in file_stats
                    else None
                ),
            )
            for full, vals in group
        ]
        rows = sum(e["data_file"]["record_count"] for e in entries)
        total_rows += rows
        n_files += len(entries)
        manifest_path = _write_manifest(
            path,
            f"manifest-{snapshot_id}-{gi}.avro",
            entry_schema,
            entries,
            format_version,
            0,
            spec_fields,
            schema=ice_schema,
        )
        manifest_rows.append(
            _manifest_list_row(
                mlist_schema,
                manifest_path,
                0,
                snapshot_id,
                new_seq,
                added=(len(entries), rows),
                partitions=_partition_summaries(pspecs, key),
            )
        )
    summary = {
        "operation": "append",
        "added-data-files": str(n_files),
        "added-records": str(total_rows),
    }
    if prev_meta is not None:
        # carry the previous snapshot's manifests forward (delete
        # manifests included) — re-encoded under the new list schema,
        # gaps filled with their defaults
        _, prev_rows = read_avro(_resolve(prev_snap["manifest-list"], path))
        schema_names = [f["name"] for f in mlist_schema["fields"]]
        carried = [
            {
                name: m.get(
                    name, 0 if "count" in name or "rows" in name else None
                )
                for name in schema_names
            }
            for m in prev_rows
        ]
        _commit_snapshot(
            path,
            prev_meta,
            snapshot_id,
            append_head,
            new_seq,
            mlist_schema,
            carried + manifest_rows,
            summary,
            branch=branch,
        )
        return n_files
    mlist_path = _write_manifest_list(
        path, snapshot_id, format_version, mlist_schema, manifest_rows
    )
    now_ms = int(time.time() * 1000)
    meta = {
        "format-version": format_version,
        **({"last-sequence-number": 1} if format_version == 2 else {}),
        "table-uuid": str(uuid.uuid4()),
        "location": path,
        "last-updated-ms": now_ms,
        "last-column-id": len(df.schema.fields),
        "schema": ice_schema,
        "schemas": [ice_schema],
        "current-schema-id": 0,
        "partition-spec": spec_fields,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "last-partition-id": 999 + len(pspecs),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {
            **({"name": table_name} if table_name else {}),
            "write.format.default": "parquet",
        },
        "current-snapshot-id": snapshot_id,
        "snapshots": [
            {
                "snapshot-id": snapshot_id,
                "timestamp-ms": now_ms,
                **({"sequence-number": 1} if format_version == 2 else {}),
                "schema-id": 0,
                "manifest-list": "file://" + mlist_path,
                "summary": summary,
            }
        ],
        "snapshot-log": [
            {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
        ],
    }
    with open(os.path.join(md, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(md, "version-hint.text"), "w") as fh:
        fh.write("1")
    return n_files


def _manifest_list_schema(fmt_version: int, partitioned: bool) -> dict:
    """The exporter's manifest-list schema: v2 adds the sequence
    numbers, content and the file/row counts the spec marks REQUIRED
    ("Manifest Lists"); partitioned tables add the field summaries."""
    schema = json.loads(json.dumps(_MANIFEST_LIST_SCHEMA))
    if fmt_version == 2:
        schema["fields"] += [
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {"name": "min_sequence_number", "type": "long", "field-id": 516},
            {"name": "added_files_count", "type": "int", "field-id": 504},
            {"name": "existing_files_count", "type": "int", "field-id": 505},
            {"name": "deleted_files_count", "type": "int", "field-id": 506},
            {"name": "added_rows_count", "type": "long", "field-id": 512},
            {"name": "existing_rows_count", "type": "long", "field-id": 513},
            {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        ]
    if partitioned:
        schema["fields"].append(
            {
                "name": "partitions",
                "field-id": 507,
                "default": None,
                "type": [
                    "null",
                    {
                        "type": "array",
                        "element-id": 508,
                        "items": {
                            "type": "record",
                            "name": "r508",
                            "fields": [
                                {
                                    "name": "contains_null",
                                    "type": "boolean",
                                    "field-id": 509,
                                },
                                {
                                    "name": "lower_bound",
                                    "type": ["null", "bytes"],
                                    "field-id": 510,
                                    "default": None,
                                },
                                {
                                    "name": "upper_bound",
                                    "type": ["null", "bytes"],
                                    "field-id": 511,
                                    "default": None,
                                },
                            ],
                        },
                    },
                ],
            }
        )
    return schema


def _iceberg_schema(df: DataFrame) -> dict:
    fields = []
    for i, f in enumerate(df.schema.fields, start=1):
        t = _SPARK_TO_ICEBERG.get(f.dataType.simpleString())
        if t is None:
            raise UnsupportedIcebergFeature(
                f"no Iceberg mapping for column {f.name}: "
                f"{f.dataType.simpleString()} (export supports "
                "primitive columns)"
            )
        fields.append(
            {
                "id": i,
                "name": f.name,
                "required": not f.nullable,
                "type": t,
            }
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}
