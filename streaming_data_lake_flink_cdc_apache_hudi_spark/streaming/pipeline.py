"""Streaming CDC pipelines (SURVEY.md §2.1 S1-S3, §3 entry point A).

The reference's main path is: postgres-cdc changelog → streaming SQL
(project/cast/join) → Hudi keyed-upsert sink, committing once per
1-min checkpoint (CDC-Hudi-Notebook.zpln:2317 ¶53; checkpointing ¶2-3).

Spark mapping implemented here:
- micro-batch = commit: ``trigger(processingTime=...)`` (or
  availableNow for tests/backfill) with a checkpointLocation gives
  the same checkpoint-coupled commit cadence (E1).
- retract handling (¶42): inside each micro-batch the envelope rows
  are reduced per key to the latest (ts, seq) event — Flink's
  retract+replace collapses to last-write-wins before the sink — and
  the reduced delta is MERGEd into an UpsertLakeTable. Cross-batch
  ordering is guaranteed by monotone commit seqs + the LWW merge.
- exactly-once: foreachBatch epoch id is the commit id; replayed
  epochs are skipped by the sink (idempotent MERGE).

Why foreachBatch-IVM instead of native stream-stream joins for the
flagship: Spark's stream-stream join cannot consume update/retract
inputs (SURVEY.md §2.2 R7). Maintaining per-source current-state
tables and re-joining per micro-batch is the Spark-idiomatic
equivalent; `stream_static_join` covers the snapshot side natively.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.upsert import latest_by_key
from .upsert_sink import META_COLS, READ_META_COLS, UpsertLakeTable


def reduce_changelog_batch(
    batch: DataFrame, key: str | Sequence[str]
) -> DataFrame:
    """Reduce one micro-batch of envelope rows to a keyed delta:
    one row per key (latest ts,seq), post-image columns + _deleted.

    D events carry their pre-image columns so the delta schema stays
    uniform; the sink only needs the key + tombstone flag for them.
    """
    keys = [key] if isinstance(key, str) else list(key)
    keyed = batch.withColumns(
        {
            f"__k_{k}": F.coalesce(F.col(f"after.{k}"), F.col(f"before.{k}"))
            for k in keys
        }
    )
    latest = latest_by_key(keyed, [f"__k_{k}" for k in keys], ["ts", "seq"])
    row_cols = [f.name for f in batch.schema["after"].dataType.fields]
    return latest.select(
        *[
            F.coalesce(F.col(f"after.{c}"), F.col(f"before.{c}")).alias(c)
            for c in row_cols
        ],
        (F.col("op") == "D").alias("_deleted"),
        F.col("ts").alias("_cdc_ts"),
        F.col("seq").alias("_cdc_seq"),
    )


def _start(
    changelog: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger: dict | None,
) -> StreamingQuery:
    """Run ``fn(batch, epoch_id)`` on every micro-batch of
    ``changelog``, checkpointed in ``checkpoint_dir``; the trigger
    defaults to availableNow (drain what is there, then stop)."""
    return (
        changelog.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def _format_upsert(
    keys: list[str],
    upsert: Callable[[SparkSession, DataFrame | None, DataFrame | None], None],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body of the format sinks: reduce the batch to a
    keyed LWW delta, split tombstones out and commit once through
    ``upsert(spark, ups, dels)`` — an empty side is passed as None,
    and a batch with neither commits nothing."""

    def _commit(batch: DataFrame, epoch_id: int) -> None:
        delta = reduce_changelog_batch(batch, keys)
        ups = delta.filter(~F.col("_deleted")).drop(
            "_deleted", "_cdc_ts", "_cdc_seq"
        )
        dels = delta.filter(F.col("_deleted")).select(*keys)
        n_ups, n_dels = ups.count(), dels.count()
        if not n_ups and not n_dels:
            return
        upsert(
            batch.sparkSession,
            ups if n_ups else None,
            dels if n_dels else None,
        )

    return _commit


def stream_upsert(
    changelog: DataFrame,
    table: UpsertLakeTable,
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """changelog stream → (optional per-batch transform) → keyed MERGE.

    ``transform`` runs on the reduced delta inside each batch (e.g. a
    stream-static dimension join or projection) and must preserve the
    table key and the ``_deleted`` flag.
    """

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        delta = reduce_changelog_batch(batch, table.key)
        if transform is not None:
            delta = transform(delta)
        # _cdc_ts/_cdc_seq stay in the delta: the sink stores them as
        # its precombine/ordering fields, so an event arriving a
        # micro-batch late (older ts,seq in a newer commit) can never
        # overwrite newer state — cross-commit LWW is event-time total,
        # not just commit-ordered
        table.write(
            delta,
            commit_id=f"epoch-{epoch_id}",
            delete_col="_deleted",
        )

    return _start(changelog, _merge, checkpoint_dir, trigger)


def stream_upsert_iceberg(
    changelog: DataFrame,
    path: str,
    key: str | Sequence[str],
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """changelog stream → per-micro-batch ICEBERG v2 UPSERT commits
    (new r11) — the Flink Iceberg sink's UPSERT mode, the modern
    deployment of the reference's CDC→lake pattern: each micro-batch
    reduces the envelope to a keyed LWW delta
    (``reduce_changelog_batch``), splits tombstones out, and commits
    ONE snapshot via ``upsert_iceberg`` — a data manifest of the
    upserted rows plus an equality-delete manifest retiring both the
    upserted and the deleted keys, at the batch's sequence number.
    Commit cadence = trigger cadence, the same checkpoint-coupled
    pattern as ``stream_upsert`` (E1). The target table must already
    exist as an unpartitioned v2 export with the post-image schema.

    Ordering: WITHIN a batch the LWW reduce makes event order
    irrelevant; ACROSS batches ordering is commit-ordered (the
    format's strict sequence scoping), not event-time — a key's
    event arriving a whole micro-batch late overwrites newer state,
    exactly the Flink upsert sink's documented property (Iceberg has
    no precombine field; the engine's own lake sink keeps event-time
    LWW via _cdc_ts/_cdc_seq when that matters). A replayed epoch
    re-commits its batch, which converges to the same state (the
    eq-delete retires the replayed rows' previous versions)."""
    keys = [key] if isinstance(key, str) else list(key)

    def _upsert(spark: SparkSession, ups, dels) -> None:
        from ..sources.iceberg_interop import upsert_iceberg

        upsert_iceberg(spark, path, ups, keys, deletes=dels)

    return _start(
        changelog, _format_upsert(keys, _upsert), checkpoint_dir, trigger
    )


def stream_upsert_delta(
    changelog: DataFrame,
    path: str,
    key: str | Sequence[str],
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """changelog stream → per-micro-batch DELTA MERGE commits (new
    r12 — the Delta twin of :func:`stream_upsert_iceberg`, the shape
    delta-spark's ``foreachBatch`` + ``MERGE`` deployment guides
    document for CDC): each micro-batch reduces the envelope to a
    keyed LWW delta (``reduce_changelog_batch``), splits tombstones
    out, and commits ONE Delta version via ``upsert_delta`` —
    deletion-vector re-adds retiring both the upserted and the
    deleted keys' old rows plus adds for the upserted rows. Commit
    cadence = trigger cadence, the checkpoint-coupled pattern of
    ``stream_upsert`` (E1). The target must already exist as an
    unpartitioned, unmapped export with the post-image schema.

    Ordering is commit-ordered across batches (log replay replaces
    adds by path), LWW within a batch — the same contract
    ``stream_upsert_iceberg`` documents; replayed epochs re-commit
    and converge (the DV re-delete merges identical positions)."""
    keys = [key] if isinstance(key, str) else list(key)

    def _upsert(spark: SparkSession, ups, dels) -> None:
        from ..sources.delta_interop import upsert_delta

        upsert_delta(spark, path, ups, keys, deletes=dels)

    return _start(
        changelog, _format_upsert(keys, _upsert), checkpoint_dir, trigger
    )


def stream_upsert_hudi(
    changelog: DataFrame,
    path: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    compact_delta_commits: int | None = None,
    compact_delta_seconds: float | None = None,
    compact_async: bool = True,
) -> StreamingQuery:
    """changelog stream → per-micro-batch HUDI MoR delta commits on
    an EXPORTED layout (new r12 — the reference's EXACT deployment
    shape, Flink CDC upserting into Hudi MERGE_ON_READ,
    CDC-Hudi-Notebook.zpln:292 ¶7, now landed on the interop layout
    external Hudi/Athena readers mount): each micro-batch reduces
    the envelope to a keyed LWW delta (``reduce_changelog_batch``),
    splits tombstones out, and commits ONE ``.deltacommit`` via
    ``upsert_hudi`` — an Avro DATA block per touched file group for
    the upserted rows plus a DELETE block for the deleted keys, the
    block shapes the reference's Flink sink emits per checkpoint.
    Commit cadence = trigger cadence (E1). The record key comes from
    the layout's hoodie.properties.

    COMPACTION CADENCE (new r13 — VERDICT r12 stretch; the
    reference's ``'compaction.trigger.strategy' = 'num_or_time'``
    with ``compaction.delta_commits`` / ``compaction.delta_seconds``,
    CDC-Hudi-Notebook.zpln:292 ¶7 / :2234 ¶51):
    ``compact_delta_commits=N`` / ``compact_delta_seconds=S`` arm a
    post-commit hook that fires ``compact_hudi`` when N deltacommits
    have accumulated since the last compaction OR S seconds have
    elapsed since one — whichever first (num_or_time). With
    ``compact_async=True`` (the reference's
    ``compaction.async.enabled``) the fold runs on a daemon thread
    OFF the commit path, one at a time; the handle rides the
    returned query as ``query._hudi_compactor`` so tests/operators
    can join it. Delta counting is a timeline listing (KB-scale)."""
    import threading
    import time as _time

    from ..sources.hudi_interop import (
        _claim_instant,
        _deltas_since_last_compaction,
        _next_instant,
        _record_key_fields,
        compact_hudi,
    )

    keys = _record_key_fields(path)
    compactor: dict = {"thread": None, "last_time": _time.monotonic()}

    def _maybe_compact(spark) -> None:
        if compact_delta_commits is None and compact_delta_seconds is None:
            return
        t = compactor["thread"]
        if t is not None and t.is_alive():
            return  # one compactor at a time (Hudi's async scheduler)
        due_n = (
            compact_delta_commits is not None
            and _deltas_since_last_compaction(path) >= compact_delta_commits
        )
        due_t = (
            compact_delta_seconds is not None
            and _time.monotonic() - compactor["last_time"]
            >= compact_delta_seconds
        )
        if not (due_n or due_t):
            return
        if due_t and not due_n and _deltas_since_last_compaction(path) == 0:
            return  # time elapsed but nothing to fold (Hudi's no-op)
        compactor["last_time"] = _time.monotonic()
        # CLAIM the compaction instant INLINE (the scheduling step
        # Hudi's writer does under its lock) so the NEXT micro-batch's
        # deltacommit lands past it — only the data rewrite runs async
        inst = _next_instant(path)
        _claim_instant(path, inst, "commit")

        def run() -> None:
            compact_hudi(spark, path, instant=inst)

        if compact_async:
            th = threading.Thread(
                target=run, name="hudi-async-compactor", daemon=True
            )
            compactor["thread"] = th
            th.start()
        else:
            run()

    def _upsert(spark: SparkSession, ups, dels) -> None:
        from ..sources.hudi_interop import upsert_hudi

        upsert_hudi(spark, path, ups, deletes=dels)
        _maybe_compact(spark)

    q = _start(
        changelog, _format_upsert(keys, _upsert), checkpoint_dir, trigger
    )
    q._hudi_compactor = compactor
    return q


def stream_upsert_uniform(
    changelog: DataFrame,
    path: str,
    key: str | Sequence[str],
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """changelog stream → per-micro-batch DUAL-FORMAT upsert commits
    (new r12 — completing the streaming-sink quadruple next to
    ``stream_upsert`` / ``stream_upsert_iceberg`` /
    ``stream_upsert_delta`` / ``stream_upsert_hudi``): each batch's
    LWW delta lands ONCE as shared parquet and commits BOTH a Delta
    version (DV re-adds + adds) and an Iceberg snapshot (equality
    deletes + the same files) via ``upsert_uniform`` — a Delta client
    and an Iceberg client both follow the stream. Target must be an
    unpartitioned v2 ``export_uniform`` table."""
    keys = [key] if isinstance(key, str) else list(key)

    def _upsert(spark: SparkSession, ups, dels) -> None:
        from ..sources.uniform import upsert_uniform

        upsert_uniform(spark, path, ups, keys, deletes=dels)

    return _start(
        changelog, _format_upsert(keys, _upsert), checkpoint_dir, trigger
    )


def stream_static_join(
    changelog_delta: DataFrame,
    static_dim: DataFrame,
    on,
    how: str = "inner",
) -> DataFrame:
    """R7's snapshot side: join a per-batch delta against a static
    dimension (person snapshot ≙ zpln:1101 ¶25). Catalyst broadcasts
    the dim when small; at 100 TB scale pre-bucket the dim on the
    join key so each micro-batch joins shuffle-free."""
    return changelog_delta.join(static_dim, on, how)


def stream_lookup_join(
    changelog: DataFrame,
    dim: UpsertLakeTable,
    on: str | Sequence[str],
    sink: UpsertLakeTable,
    checkpoint_dir: str,
    how: str = "left",
    broadcast_dim: bool = True,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Processing-time temporal enrichment — Flink's ``LOOKUP JOIN …
    FOR SYSTEM_TIME AS OF proc_time`` spelled in Spark micro-batches:
    every batch's reduced delta joins the dimension lake table's
    CURRENT snapshot, re-resolved at batch time, so a dim row updated
    between two batches enriches the later batch with the NEW version
    while rows already written keep the version they saw (exactly the
    processing-time semantics; contrast ``stream_static_join``, which
    freezes the dim at query start, and the as-of/SCD2 batch joins,
    which are event-time).

    ``broadcast_dim`` (default) hints the per-batch snapshot for
    broadcast — the lookup-dim regime is a small, hot table; disable
    it for big dims and AQE picks shuffle strategy (at 100 TB
    pre-bucket dim and sink on the key so each batch joins
    shuffle-free). Exactly-once like every sink here: the epoch id is
    the commit id, replayed epochs dedup in the MERGE.
    """

    def _enrich(batch: DataFrame, epoch_id: int) -> None:
        delta = reduce_changelog_batch(batch, sink.key)
        snap = dim.snapshot()
        enriched = delta.join(
            F.broadcast(snap) if broadcast_dim else snap, on, how
        )
        sink.write(
            enriched,
            commit_id=f"lookup-epoch-{epoch_id}",
            delete_col="_deleted",
        )

    return _start(changelog, _enrich, checkpoint_dir, trigger)


def stream_temporal_enrich(
    changelog: DataFrame,
    versions: UpsertLakeTable,
    key_cols: Sequence[str],
    event_ts: str,
    version_ts: str,
    value_cols: Sequence[str],
    sink: UpsertLakeTable,
    checkpoint_dir: str,
    how: str = "left",
    trigger: dict | None = None,
) -> StreamingQuery:
    """EVENT-time temporal enrichment — Flink's `JOIN dim FOR
    SYSTEM_TIME AS OF e.rowtime` in micro-batches: each batch's
    events join the dim version valid AT THE EVENT'S OWN TIMESTAMP
    (contrast ``stream_lookup_join``, which is processing-time: the
    version current at batch time). ``versions`` is an append-only
    version-history lake table (key cols + ``version_ts`` + value
    cols — the SCD2 layout); per batch the history is pruned to the
    batch's keys with a semi-join before the one-window-sort
    temporal join, so batch cost is events + touched keys' versions,
    not the whole history. Exactly-once by epoch-id commit dedup."""
    from ..operators.joins import temporal_join

    def _enrich(batch: DataFrame, epoch_id: int) -> None:
        delta = reduce_changelog_batch(batch, sink.key)
        hist = versions.snapshot().join(
            F.broadcast(delta.select(*key_cols).distinct()),
            list(key_cols),
            "left_semi",
        )
        enriched = temporal_join(
            delta, hist, key_cols, event_ts, version_ts, value_cols, how=how
        )
        sink.write(
            enriched,
            commit_id=f"temporal-epoch-{epoch_id}",
            delete_col="_deleted",
        )

    return _start(changelog, _enrich, checkpoint_dir, trigger)


def sync_incremental(
    src: UpsertLakeTable,
    dst: UpsertLakeTable,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> tuple[int, int]:
    """One medallion hop (silver → gold): propagate everything that
    changed in ``src`` since the last sync into ``dst``, exactly once
    per commit range.

    The src side is an ``incremental()`` read — delta-proportional,
    bucket-pruned, delete markers included — so a chained pipeline
    never rescans the upstream table. ``transform`` (optional) maps
    the payload DataFrame (src columns plus a ``_sync_deleted``
    boolean) to the dst schema; it must keep dst's key columns and
    ``_sync_deleted``. Returns (rows_propagated, synced_through_seq).

    Exactly-once / crash story: the watermark file under dst advances
    AFTER the dst commit lands. A crash between the two replays the
    same range — the commit id embeds (since, end), so an identical
    replay dedups outright, and a widened range re-applies CURRENT
    row versions through dst's keyed LWW, which converges (upserts
    are idempotent by content, deletes re-delete). Repeated calls
    with no upstream changes are free (one seq comparison).
    """
    import hashlib as _hashlib
    import json as _json

    # stable across processes (builtin hash() is per-process salted)
    src_tag = _hashlib.md5(
        os.path.abspath(src.path).encode()
    ).hexdigest()[:12]
    state_path = os.path.join(dst.path, f"_sync_from_{src_tag}.json")
    since = -1
    if os.path.exists(state_path):
        with open(state_path) as fh:
            since = int(_json.load(fh)["synced_through"])
    end = src.last_commit_seq()
    if end <= since:
        return 0, since
    delta = src.incremental(max(since, 0))
    payload_cols = [
        c
        for c in delta.columns
        if c not in META_COLS and c not in READ_META_COLS
    ]
    rows = delta.select(
        *payload_cols, (F.col("_op") == "D").alias("_sync_deleted")
    )
    if transform is not None:
        rows = transform(rows)
    n = rows.count()
    if n:
        dst.write(
            rows,
            commit_id=f"sync-{os.path.basename(src.path)}-{since}-{end}",
            delete_col="_sync_deleted",
        )
    tmp = state_path + ".tmp"
    with open(tmp, "w") as fh:
        _json.dump({"synced_through": end, "src": src.path}, fh)
    os.replace(tmp, state_path)
    return n, end
