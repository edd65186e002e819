"""Incremental view maintenance for the flagship changelog join
(SURVEY.md §2.2 R7 streaming, §7 hard-part #1).

The reference's flagship query (CDC-Hudi-Notebook.zpln:2317 ¶53)
joins three CDC streams — person (snapshot+binlog), sporting_event_
ticket (binlog, receives UPDATEs of ticketholder_id on every ticket
transfer), ticket_purchase_hist (binlog, append-only) — into a Hudi
view keyed on full_name. Flink handles updates on every side via
retract streams. Spark's stream-stream join rejects update inputs,
so the engine maintains the view incrementally:

per micro-batch:
1. MERGE each source delta into its per-source state table
   (UpsertLakeTable; ≙ Flink's join state, but queryable).
2. Compute the AFFECTED person ids — the only view keys whose rows
   can change: ids in the person delta, before+after holders of
   changed tickets, and holders of tickets referenced by new hist
   rows (before-images matter: a transfer retracts the old holder's
   row, ¶42 zpln:1870).
3. Recompute the join restricted to affected ids (semi-join pruned
   slices of state) → fresh rows per affected full_name.
4. Diff against the sink: upsert fresh rows, delete view keys that
   no longer produce a row (including old full_names on rename —
   the view PK itself can change).

Scale: every step is a join keyed on person/ticket id — the affected
set is O(delta) and every per-batch state read is bucket-PRUNED to
the buckets the affected keys hash to (``snapshot(bucket_filter=…)``
pushes a partition-dir filter below the LWW merge), so micro-batch
cost is proportional to the delta, not the state:

- person state (keyed+bucketed by id) is probed by affected person id;
- ticket state is probed two ways, so it is kept twice (the classic
  secondary-index trade): the primary table keyed+bucketed by ticket
  id (probed by hist rows), and a ``tickets_by_holder`` projection
  bucketed by ticketholder_id (probed by affected person). Holder is
  MUTABLE, so on transfer the writer appends a move-tombstone to the
  old holder's bucket — stale buckets self-describe and a pruned
  read can never resurrect a moved ticket;
- hist state (keyed by the composite) is bucketed by its
  sporting_event_ticket_id component — probed by the affected
  persons' ticket ids.

The only driver-side values in the read path are the bucket-id lists
(≤ num_buckets ints per table). Everything else stays distributed.

At small deltas a micro-batch is bounded by fixed per-query cost (job
scheduling, file listing), not data, so each step is submitted once:

- every source delta is pinned once; it then feeds the state
  commits, the affected set and the diff;
- the state commits run concurrently on InheritableThreads: person ∥
  (ticket ∥ tickets_by_holder) ∥ (hist ∥ the hist→ticket bucket
  collect). They write different tables, so the per-table leases
  never contend; the first error is re-raised after all finish, and
  exactly-once commit ids make a replay of a half-failed batch
  converge;
- person and tickets_by_holder bucket ids come from one aggregate over
  the pinned affected set; the affected-person slice is pinned once
  and reused for the diff's candidate names;
- every state scan takes its schema from the table's ``_schema.json``
  (no footer-inference job, evolved tables included; see
  ``UpsertLakeTable._read_dir``).

Tracing note: the benchmark's spans parent per thread, so its
``ivm.state_write_s`` reads 0 with state commits on worker threads;
per-table commit time is in the ``upsert_sink.write`` spans, by
commit id.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark.sql import types as T

from .upsert_sink import UpsertLakeTable
from ..operators.materialize import pin

_HIST_SCHEMA = T.StructType(
    [
        T.StructField("sporting_event_ticket_id", T.DoubleType()),
        T.StructField("purchase_by_id", T.DoubleType()),
        T.StructField("transaction_date_time", T.TimestampType()),
        T.StructField("transferred_from_id", T.DoubleType()),
        T.StructField("purchase_price", T.FloatType()),
    ]
)

_PERSON_SCHEMA = T.StructType(
    [
        T.StructField("id", T.DoubleType()),
        T.StructField("full_name", T.StringType()),
        T.StructField("last_name", T.StringType()),
        T.StructField("first_name", T.StringType()),
    ]
)

_TICKET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.DoubleType()),
        T.StructField("sporting_event_id", T.DoubleType()),
        T.StructField("sport_location_id", T.DoubleType()),
        T.StructField("seat_level", T.IntegerType()),
        T.StructField("seat_section", T.StringType()),
        T.StructField("seat_row", T.StringType()),
        T.StructField("seat", T.StringType()),
        T.StructField("ticketholder_id", T.DoubleType()),
        T.StructField("ticket_price", T.FloatType()),
    ]
)


def _drop_before(delta: DataFrame) -> DataFrame:
    """The delta without its ``_before_<col>`` pre-image columns."""
    return delta.drop(*[c for c in delta.columns if c.startswith("_before_")])


def _by_holder(ticket_delta: DataFrame) -> DataFrame:
    """The tickets-by-holder projection of a ticket delta: each live
    row goes into its NEW holder's bucket, plus a move-tombstone into
    the OLD holder's bucket whenever the holder changed, so a pruned
    read of the old bucket sees the departure instead of the stale
    row."""
    tbh = _drop_before(ticket_delta)
    if "_before_ticketholder_id" not in ticket_delta.columns:
        return tbh
    moved = (
        ticket_delta.filter(
            F.col("_before_ticketholder_id").isNotNull()
            & ~F.col("_before_ticketholder_id").eqNullSafe(
                F.col("ticketholder_id")
            )
        )
        .withColumn("ticketholder_id", F.col("_before_ticketholder_id"))
        .withColumn("_deleted", F.lit(True))
        .transform(_drop_before)
    )
    return tbh.unionByName(moved)


def _run_concurrently(tasks: Sequence[Callable[[], object]]) -> None:
    """Run ``tasks`` on InheritableThreads (they keep the caller's Spark
    local properties), wait for all, then re-raise the first error in
    task order. Every task finishes before anything is raised, so a
    failed batch never leaves a commit running behind the caller."""
    errors: list[BaseException | None] = [None] * len(tasks)

    def guarded(i: int) -> None:
        try:
            tasks[i]()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors[i] = e

    threads = [
        InheritableThread(target=guarded, args=(i,)) for i in range(len(tasks))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e


class FlagshipViewIVM:
    """Maintains ticket_view (¶51/¶53) from three changelog deltas.

    Source schemas = FIXTURES.md F1-F3 (person, sporting_event_ticket,
    ticket_purchase_hist); view schema = F5.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.person = UpsertLakeTable(
            spark, f"{root}/state/person", key="id", schema=_PERSON_SCHEMA
        )
        self.ticket = UpsertLakeTable(
            spark, f"{root}/state/ticket", key="id", schema=_TICKET_SCHEMA
        )
        # secondary projection of ticket state bucketed by HOLDER — the
        # column the flagship join probes on. Maintained with
        # move-tombstones (holder is mutable; see apply()).
        self.ticket_by_holder = UpsertLakeTable(
            spark,
            f"{root}/state/ticket_by_holder",
            key="id",
            schema=_TICKET_SCHEMA,
            partition_cols="ticketholder_id",
        )
        self.hist = UpsertLakeTable(
            spark,
            f"{root}/state/hist",
            key=["sporting_event_ticket_id", "purchase_by_id", "transaction_date_time"],
            schema=_HIST_SCHEMA,
            partition_cols="sporting_event_ticket_id",
        )
        self.view = UpsertLakeTable(spark, f"{root}/view", key="full_name")
        # bucket filters used by the last apply() — introspection for
        # the delta-proportional-read tests
        self.last_read_buckets: dict[str, list[int] | None] = {}

    # delta inputs: reduced-changelog shape (post-image cols +
    # _deleted + _cdc_ts/_cdc_seq), as produced by
    # pipeline.reduce_changelog_batch, PLUS _before_<col> columns for
    # the pre-image attributes the diff needs (holder / full_name)

    def _affected_person_ids(
        self,
        person_delta: DataFrame | None,
        ticket_delta: DataFrame | None,
        hist_delta: DataFrame | None,
        ticket_state: DataFrame | None,
    ) -> DataFrame:
        parts = []
        if person_delta is not None:
            parts.append(person_delta.select(F.col("id").alias("pid")))
        if ticket_delta is not None:
            parts.append(
                ticket_delta.select(F.col("ticketholder_id").alias("pid"))
            )
            parts.append(
                ticket_delta.select(F.col("_before_ticketholder_id").alias("pid"))
            )
        if hist_delta is not None:
            # holders of the tickets the new hist rows reference —
            # resolved against ticket state (post-merge)
            parts.append(
                hist_delta.select(
                    F.col("sporting_event_ticket_id").alias("tid")
                )
                .join(
                    ticket_state.select(
                        F.col("id").alias("tid"),
                        F.col("ticketholder_id").alias("pid"),
                    ),
                    "tid",
                )
                .select("pid")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.filter(F.col("pid").isNotNull()).distinct()

    def apply(
        self,
        person_delta: DataFrame | None = None,
        ticket_delta: DataFrame | None = None,
        hist_delta: DataFrame | None = None,
        commit_id: str | None = None,
    ) -> None:
        """Apply one micro-batch of source deltas to state + view.

        Delta contract: post-image columns + ``_deleted`` (+ optional
        ``_cdc_ts``/``_cdc_seq`` precombine fields), plus
        ``_before_<col>`` columns carrying the PRE-BATCH before-image
        (the value before the batch's EARLIEST event for that key —
        what ``reduce_changelog_batch`` + the runner's min_by pre-image
        produce). A mid-batch intermediate value is NOT a valid
        before-image: the move-tombstone for tickets_by_holder must
        land in the pre-batch holder's bucket.
        """
        cid = commit_id or "batch"
        # each delta is computed once: the state commits, the affected
        # set and the diff all read the pinned rows
        person_delta, ticket_delta, hist_delta = (
            None if d is None else pin(d)
            for d in (person_delta, ticket_delta, hist_delta)
        )
        # 1. merge deltas into per-source state. The state tables are
        # independent (own dir, own lease, own exactly-once commit id),
        # so their commits run concurrently; a replay of a half-failed
        # batch skips the tables that committed and converges. The
        # hist→ticket probe's bucket ids depend on the delta only, so
        # they are collected beside the commits.
        tasks = []
        if person_delta is not None:
            tasks.append(
                lambda: self.person.write(
                    _drop_before(person_delta),
                    commit_id=f"{cid}-person",
                    delete_col="_deleted",
                )
            )
        if ticket_delta is not None:
            tasks.append(
                lambda: self.ticket.write(
                    _drop_before(ticket_delta),
                    commit_id=f"{cid}-ticket",
                    delete_col="_deleted",
                )
            )
            tasks.append(
                lambda: self.ticket_by_holder.write(
                    _by_holder(ticket_delta),
                    commit_id=f"{cid}-tbh",
                    delete_col="_deleted",
                )
            )
        t_buckets: list[int] = []
        if hist_delta is not None:
            tasks.append(
                lambda: self.hist.write(
                    _drop_before(hist_delta),
                    commit_id=f"{cid}-hist",
                    delete_col="_deleted",
                )
            )
            tasks.append(
                lambda: t_buckets.extend(
                    self.ticket.bucket_filter_for(
                        hist_delta.select(
                            F.col("sporting_event_ticket_id").alias("id")
                        )
                    )
                )
            )
        _run_concurrently(tasks)

        # 2. affected view slice. localCheckpoint materializes the
        # (O(delta)-sized) affected set: it is reused by the bucket
        # collect + two semi-joins, and the truncated lineage sidesteps
        # Spark's ambiguous-self-join check between state reads.
        ticket_probe = None
        if hist_delta is not None:
            ticket_probe = self.ticket.snapshot(bucket_filter=t_buckets).select(
                "id", "ticketholder_id"
            )
        affected = (
            self._affected_person_ids(
                person_delta, ticket_delta, hist_delta, ticket_probe
            )
            .select(F.col("pid").alias("a_pid"))
            .transform(pin)
        )

        # 3. recompute the flagship join for affected persons only —
        # every state read pruned to the buckets the probe keys hash to.
        # Person (by id) and tickets-by-holder (by holder) are probed
        # with the same affected ids: one aggregate collects both
        # tables' bucket ids. Column prefixes keep the join sides'
        # attribute lineage disjoint (ambiguous-self-join check).
        pb, tb = affected.agg(
            *[
                F.collect_set(t._bucket_expr(["a_pid"]))
                for t in (self.person, self.ticket_by_holder)
            ]
        ).first()
        p_buckets, tbh_buckets = sorted(pb), sorted(tb)
        p_state = self.person.snapshot(bucket_filter=p_buckets).select(
            F.col("id").alias("p_id"), F.col("full_name").alias("p_full_name")
        )
        t_state = self.ticket_by_holder.snapshot(
            bucket_filter=tbh_buckets
        ).select(
            F.col("id").alias("t_id"),
            F.col("ticketholder_id").alias("t_holder"),
            F.col("ticket_price").alias("t_price"),
        )
        # affected persons (reused by the diff's candidate names) and
        # their tickets: O(delta)-sized, materialized so the hist bucket
        # collect, the join and the diff don't re-merge person state
        p = p_state.join(
            affected, p_state["p_id"] == affected["a_pid"], "left_semi"
        ).transform(pin)
        pt = (
            p.join(t_state, p["p_id"] == t_state["t_holder"])
            .select("p_full_name", "t_id", "t_price")
            .transform(pin)
        )
        h_buckets = self.hist.bucket_filter_for(
            pt.select(F.col("t_id").alias("sporting_event_ticket_id"))
        )
        h_state = self.hist.snapshot(bucket_filter=h_buckets).select(
            F.col("sporting_event_ticket_id").alias("h_tid"),
            F.col("transaction_date_time").alias("h_ts"),
            F.col("purchase_by_id").alias("h_buyer"),
        )
        self.last_read_buckets = {
            "ticket": t_buckets,
            "person": p_buckets,
            "ticket_by_holder": tbh_buckets,
            "hist": h_buckets,
        }
        joined = (
            pt.join(h_state, h_state["h_tid"] == pt["t_id"])
            .select(
                F.col("p_full_name").alias("full_name"),
                F.col("t_id").cast("string").alias("tid_str"),
                F.col("t_price").alias("ticket_price"),
                F.col("h_ts").alias("transaction_date_time"),
                F.col("h_buyer").alias("purchase_by_id"),
            )
        )
        from ..operators.upsert import latest_by_key

        fresh = (
            latest_by_key(
                joined,
                "full_name",
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

        # 4. diff: upserts = fresh; deletes = previously-live keys of
        # affected persons (current OR pre-image names) with no fresh row
        candidate_names = p.select(F.col("p_full_name").alias("full_name"))
        if person_delta is not None:
            candidate_names = candidate_names.unionByName(
                person_delta.select(
                    F.col("_before_full_name").alias("full_name")
                ).filter(F.col("full_name").isNotNull())
            )
        dead = (
            candidate_names.distinct()
            .join(fresh.select("full_name"), "full_name", "left_anti")
            .select(
                "full_name",
                F.lit(None).cast("string").alias("id"),
                F.lit(None).cast(fresh.schema["ticket_price"].dataType).alias(
                    "ticket_price"
                ),
                F.lit(None).cast("string").alias("transaction_date_time"),
            )
        )
        delta = fresh.withColumn("_deleted", F.lit(False)).unionByName(
            dead.withColumn("_deleted", F.lit(True))
        )
        self.view.write(delta, commit_id=f"{cid}-view", delete_col="_deleted")


# ---------------------------------------------------------------------------
# Streaming wiring: one multiplexed CDC feed -> synchronized foreachBatch
# over all three sources (≙ the Flink job consuming 3 connectors in one
# graph, CDC-Hudi-Notebook.zpln:2317 ¶53)
# ---------------------------------------------------------------------------

_PERSON_FIELDS = ["id", "full_name", "last_name", "first_name"]
_TICKET_FIELDS = [
    "id", "sporting_event_id", "sport_location_id", "seat_level",
    "seat_section", "seat_row", "seat", "ticketholder_id", "ticket_price",
]
_HIST_FIELDS = [
    "sporting_event_ticket_id", "purchase_by_id", "transaction_date_time",
    "transferred_from_id", "purchase_price",
]

# union-of-schemas payload struct: one changelog stream carries all three
# sources (sparse nulls), tagged by `src` — lets a single streaming query
# see every source's events in the same micro-batch, which is what keeps
# the three state tables and the view transactionally in step
MUX_ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.DoubleType()),
        T.StructField("full_name", T.StringType()),
        T.StructField("last_name", T.StringType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("sporting_event_id", T.DoubleType()),
        T.StructField("sport_location_id", T.DoubleType()),
        T.StructField("seat_level", T.IntegerType()),
        T.StructField("seat_section", T.StringType()),
        T.StructField("seat_row", T.StringType()),
        T.StructField("seat", T.StringType()),
        T.StructField("ticketholder_id", T.DoubleType()),
        T.StructField("ticket_price", T.FloatType()),
        T.StructField("sporting_event_ticket_id", T.DoubleType()),
        T.StructField("purchase_by_id", T.DoubleType()),
        T.StructField("transaction_date_time", T.TimestampType()),
        T.StructField("transferred_from_id", T.DoubleType()),
        T.StructField("purchase_price", T.FloatType()),
    ]
)


def mux_envelope(src: str, env: DataFrame) -> DataFrame:
    """Lift a single-source envelope DataFrame into the multiplexed
    shape: (src, op, ts, seq, before, after) with union-struct
    payloads (missing fields null)."""

    def widen(col):
        present = {f.name for f in env.schema[col].dataType.fields}
        return F.when(
            F.col(col).isNull(), F.lit(None).cast(MUX_ROW_SCHEMA)
        ).otherwise(
            F.struct(
                *[
                    (
                        F.col(f"{col}.{f.name}").cast(f.dataType)
                        if f.name in present
                        else F.lit(None).cast(f.dataType)
                    ).alias(f.name)
                    for f in MUX_ROW_SCHEMA.fields
                ]
            )
        )

    return env.select(
        F.lit(src).alias("src"),
        "op",
        "ts",
        "seq",
        widen("before").alias("before"),
        widen("after").alias("after"),
    )


def mux_feed_schema() -> T.StructType:
    from ..sources.cdc_feed import envelope_schema

    base = envelope_schema(MUX_ROW_SCHEMA)
    return T.StructType([T.StructField("src", T.StringType(), False)] + base.fields)


class FlagshipStreamRunner:
    """End-to-end streaming flagship: multiplexed feed dir →
    FlagshipViewIVM, one IVM transaction per micro-batch.

    Per micro-batch: the batch is pinned (read from the feed once) and
    one collect of its ``src`` tags says which sources it carries;
    each present source is reduced to its delta
    (``reduce_changelog_batch`` + the ``min_by`` pre-image join), which
    ``FlagshipViewIVM.apply`` pins once before its concurrent state
    commits."""

    def __init__(self, spark: SparkSession, root: str, feed_dir: str):
        self.spark = spark
        self.ivm = FlagshipViewIVM(spark, root)
        self.feed_dir = feed_dir
        self.checkpoint = f"{root}/_checkpoint"

    def start(self, trigger: dict | None = None):
        from .pipeline import _start, reduce_changelog_batch

        stream = (
            self.spark.readStream.schema(mux_feed_schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(self.feed_dir, "*"))
        )

        def _apply(batch: DataFrame, epoch_id: int) -> None:
            # the micro-batch is read from the feed once; one collect of
            # its source tags replaces a per-source emptiness probe
            batch = pin(batch)
            present = {r[0] for r in batch.select("src").distinct().collect()}

            def delta(src, fields, key, before_cols):
                if src not in present:
                    return None
                sub = batch.filter(F.col("src") == src).drop("src")
                red = reduce_changelog_batch(sub, key)
                # keep _cdc_ts/_cdc_seq: the state tables store them as
                # precombine fields (cross-batch event-time LWW)
                cols = [c for c in fields] + ["_deleted", "_cdc_ts", "_cdc_seq"]
                out = red.select(*cols)
                if not before_cols:
                    return out
                keys = [key] if isinstance(key, str) else list(key)
                # pre-image = the before-image of the EARLIEST (ts, seq)
                # event per key — the pre-BATCH value. min_by over the
                # event-time order is deterministic however the batch is
                # partitioned; F.first in an unordered groupBy is not,
                # and a key changing twice per batch would corrupt the
                # retract set. An earliest-event null before-image (the
                # key was INSERTed this batch) is correct: there is no
                # prior state to retract.
                pre = (
                    sub.select(
                        *[
                            F.coalesce(
                                F.col(f"after.{k}"), F.col(f"before.{k}")
                            ).alias(k)
                            for k in keys
                        ],
                        F.struct("ts", "seq").alias("_ord"),
                        F.struct(
                            *[
                                F.col(f"before.{c}").alias(f"_before_{c}")
                                for c in before_cols
                            ]
                        ).alias("_pre"),
                    )
                    .groupBy(*keys)
                    .agg(F.min_by("_pre", "_ord").alias("_pre"))
                    .select(
                        *keys,
                        *[
                            F.col(f"_pre._before_{c}").alias(f"_before_{c}")
                            for c in before_cols
                        ],
                    )
                )
                return out.join(pre, keys, "left")

            self.ivm.apply(
                person_delta=delta(
                    "person", _PERSON_FIELDS, "id", ["full_name"]
                ),
                ticket_delta=delta(
                    "ticket", _TICKET_FIELDS, "id", ["ticketholder_id"]
                ),
                hist_delta=delta(
                    "hist",
                    _HIST_FIELDS,
                    ["sporting_event_ticket_id", "purchase_by_id",
                     "transaction_date_time"],
                    [],
                ),
                commit_id=f"epoch-{epoch_id}",
            )

        return _start(stream, _apply, self.checkpoint, trigger)


class GroupAggIVM:
    """Incrementally maintained grouped aggregate over a CDC changelog
    (the retract-stream aggregation of the reference's ¶42/R8,
    generalized from the flagship JOIN view to GROUP BY views): a
    lake table holding ``SUM(measure)``s and a row count per group,
    updated per micro-batch from signed contributions.

    Correctness model: a true CDC stream carries exact before/after
    images, so each change contributes ``+after - before`` and the
    per-group running sums TELESCOPE — order within or across batches
    cannot change the total, group-moving updates debit the old group
    and credit the new one, and a group whose row count returns to
    zero is tombstoned. (This is why aggregate IVM tolerates
    out-of-order delivery that LWW state must sort out explicitly.)

    MIN/MAX cannot telescope — deleting the current extremum needs
    more than a running total — so ``minmax_cols`` are maintained the
    way Flink's retract aggregates do it: a per-group VALUE MULTISET
    (one small lake table per tracked column, keyed by
    ``group + value`` with a reference count). A delete decrements
    the count; when the count of the current extremum reaches zero
    the next extremum is simply the min/max over the surviving
    multiset rows — no rescan of the entity table, ever.

    Scale shape per batch: one map over the batch (two signed
    projections, union), one grouped shuffle of DELTA-sized data,
    state read bucket-pruned to the touched groups
    (``bucket_filter_for``), one lake commit (plus one per tracked
    minmax column). Exactly-once by epoch-id commit dedup, same as
    the flagship runner.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: Sequence[str],
        sum_cols: Sequence[str],
        num_buckets: int = 16,
        minmax_cols: Sequence[str] | None = None,
    ):
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols)
        self.minmax_cols = list(minmax_cols or [])
        self.table = UpsertLakeTable(
            spark, path, key=self.group_cols, num_buckets=num_buckets
        )
        # One value-multiset table per MIN/MAX column, keyed by
        # (group..., value): rows are distinct observed values with a
        # refcount, so state size is O(distinct values per group).
        self.value_tables = {
            c: UpsertLakeTable(
                spark,
                f"{path}_values_{c}",
                key=self.group_cols + ["val"],
                num_buckets=num_buckets,
            )
            for c in self.minmax_cols
        }

    def _signed(self, batch: DataFrame, side: str, sign: int) -> DataFrame:
        ops = ("I", "U") if side == "after" else ("U", "D")
        return batch.filter(F.col("op").isin(*ops)).select(
            *[F.col(f"{side}.{g}").alias(g) for g in self.group_cols],
            *[
                # double from batch one so the first-commit schema
                # matches the merged (coalesce-with-0.0) schema when
                # the source column is integer-typed
                (F.lit(sign) * F.col(f"{side}.{c}"))
                .cast("double")
                .alias(f"sum_{c}")
                for c in self.sum_cols
            ],
            F.lit(sign).cast("long").alias("n_rows"),
        )

    def _signed_values(
        self, batch: DataFrame, col: str, side: str, sign: int
    ) -> DataFrame:
        ops = ("I", "U") if side == "after" else ("U", "D")
        return (
            batch.filter(F.col("op").isin(*ops))
            .select(
                *[F.col(f"{side}.{g}").alias(g) for g in self.group_cols],
                F.col(f"{side}.{col}").alias("val"),
                F.lit(sign).cast("long").alias("cnt"),
            )
            .filter(F.col("val").isNotNull())  # SQL MIN/MAX skip nulls
        )

    def _apply_values(
        self, batch: DataFrame, col: str, epoch_id: int | None
    ) -> None:
        vt = self.value_tables[col]
        keys = self.group_cols + ["val"]
        deltas = (
            self._signed_values(batch, col, "after", 1)
            .unionByName(self._signed_values(batch, col, "before", -1))
            .groupBy(*keys)
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") != 0)
        )
        try:
            buckets = vt.bucket_filter_for(deltas.select(*keys))
            cur = vt.snapshot(bucket_filter=buckets).join(
                deltas.select(*keys), keys, "left_semi"
            )
        except FileNotFoundError:
            cur = None
        if cur is not None:
            merged = (
                cur.select(*keys, F.col("cnt").alias("_c_cnt"))
                .join(deltas, keys, "full_outer")
                .select(
                    *keys,
                    (
                        F.coalesce(F.col("_c_cnt"), F.lit(0))
                        + F.coalesce(F.col("cnt"), F.lit(0))
                    ).alias("cnt"),
                )
            )
        else:
            merged = deltas
        out = merged.withColumn("_gone", F.col("cnt") <= 0)
        vt.write(
            out,
            commit_id=None
            if epoch_id is None
            else f"aggivm-{col}-{epoch_id}",
            delete_col="_gone",
        )

    def apply(self, batch: DataFrame, epoch_id: int | None = None) -> None:
        deltas = (
            self._signed(batch, "after", 1)
            .unionByName(self._signed(batch, "before", -1))
            .groupBy(*self.group_cols)
            .agg(
                *[
                    F.sum(f"sum_{c}").alias(f"sum_{c}")
                    for c in self.sum_cols
                ],
                F.sum("n_rows").alias("n_rows"),
            )
        )
        try:
            buckets = self.table.bucket_filter_for(
                deltas.select(*self.group_cols)
            )
            cur = self.table.snapshot(bucket_filter=buckets).join(
                deltas.select(*self.group_cols), self.group_cols, "left_semi"
            )
        except FileNotFoundError:
            cur = None  # first batch: no state yet
        if cur is not None:
            merged = (
                cur.select(
                    *self.group_cols,
                    *[F.col(f"sum_{c}").alias(f"_c_sum_{c}") for c in self.sum_cols],
                    F.col("n_rows").alias("_c_n"),
                )
                .join(deltas, self.group_cols, "full_outer")
                .select(
                    *self.group_cols,
                    *[
                        (
                            F.coalesce(F.col(f"_c_sum_{c}"), F.lit(0.0))
                            + F.coalesce(F.col(f"sum_{c}"), F.lit(0.0))
                        ).alias(f"sum_{c}")
                        for c in self.sum_cols
                    ],
                    (
                        F.coalesce(F.col("_c_n"), F.lit(0))
                        + F.coalesce(F.col("n_rows"), F.lit(0))
                    ).alias("n_rows"),
                )
            )
        else:
            merged = deltas
        out = merged.withColumn("_gone", F.col("n_rows") <= 0)
        self.table.write(
            out,
            commit_id=None if epoch_id is None else f"aggivm-{epoch_id}",
            delete_col="_gone",
        )
        for c in self.minmax_cols:
            self._apply_values(batch, c, epoch_id)

    def view(self) -> DataFrame:
        """Current aggregate view (one row per live group); MIN/MAX
        columns (``min_<c>``/``max_<c>``) are folded in from the
        value-multiset tables — one grouped aggregate over rows that
        are already distinct values per group."""
        base = self.table.snapshot()
        for c in self.minmax_cols:
            ext = (
                self.value_tables[c]
                .snapshot()
                .groupBy(*self.group_cols)
                .agg(
                    F.min("val").alias(f"min_{c}"),
                    F.max("val").alias(f"max_{c}"),
                )
            )
            base = base.join(ext, self.group_cols, "left")
        return base


def stream_group_agg(
    spark: SparkSession,
    feed_dir: str,
    row_schema: T.StructType,
    path: str,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    checkpoint_dir: str | None = None,
    trigger: dict | None = None,
    num_buckets: int = 16,
    minmax_cols: Sequence[str] | None = None,
):
    """Continuously maintain a GROUP BY SUM/COUNT (+MIN/MAX via
    ``minmax_cols``) view from a CDC envelope feed (readStream ->
    foreachBatch -> GroupAggIVM.apply): the retract-aggregation
    pipeline of SURVEY §2.2 R8 as one call. Exactly-once: epoch ids
    dedup replayed batches in the lake."""
    from ..sources.cdc_feed import read_feed_stream

    ivm = GroupAggIVM(
        spark, path, group_cols, sum_cols, num_buckets=num_buckets,
        minmax_cols=minmax_cols,
    )
    stream = read_feed_stream(spark, feed_dir, row_schema)
    writer = stream.writeStream.foreachBatch(
        lambda b, e: ivm.apply(b, epoch_id=e)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return ivm, writer.start()


class TopNIVM:
    """Continuously maintained per-group top-N under a retract stream
    — Flink's signature `ROW_NUMBER() OVER (PARTITION BY g ORDER BY
    v) WHERE rn <= N` on update inputs (the streaming flavor of
    SURVEY §2.4's ORDER BY … LIMIT), which Spark's native streaming
    cannot express (rank over an update stream needs retraction).

    State model (the Flink parity point): deleting the current #1
    must PROMOTE the runner-up, so the operator keeps ALL live rows,
    not just the top N — ``_rows`` is a lake table keyed by the row
    id but BUCKETED BY GROUP (``partition_cols=group_cols``), so the
    per-batch re-rank reads only the touched groups' buckets, never
    the full state. A group-changing update appends a move tombstone
    for the old group in the same commit (the sink's documented
    contract for mutable partition columns). The VIEW table is keyed
    (group, rank): publishing a refreshed group overwrites ranks
    1..k and tombstones k+1..N when the group shrinks — consumers
    read a dense, always-current ranking.

    Per-batch cost: one keyed reduce of the delta, one state commit,
    then a window rank over ONLY the touched groups (bucket-pruned
    read); the published view delta is ≤ |touched groups|·N rows.
    Exactly-once by epoch-id commit dedup, as everywhere else.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: Sequence[str],
        row_key: str,
        order_col: str,
        n: int,
        ascending: bool = False,
        num_buckets: int = 16,
    ):
        self.group_cols = list(group_cols)
        self.row_key = row_key
        self.order_col = order_col
        self.n = n
        self.ascending = ascending
        # composite (group, row) key: a group-moving update's move
        # tombstone (old group, row) and its upsert (new group, row)
        # are then DIFFERENT record keys — both apply in one commit
        # without an LWW tie on the same key
        self.rows = UpsertLakeTable(
            spark,
            f"{path}_rows",
            key=self.group_cols + [row_key],
            partition_cols=self.group_cols,
            num_buckets=num_buckets,
        )
        self.view_table = UpsertLakeTable(
            spark,
            path,
            key=self.group_cols + ["rank"],
            partition_cols=self.group_cols,
            num_buckets=num_buckets,
        )

    def _order(self):
        c = F.col(self.order_col)
        first = c.asc_nulls_last() if self.ascending else c.desc_nulls_last()
        return [first, F.col(self.row_key).asc()]

    def apply(self, batch: DataFrame, epoch_id: int | None = None) -> None:
        from .pipeline import reduce_changelog_batch

        delta = reduce_changelog_batch(batch, self.row_key)
        # every (old-group, row) pair the batch's pre-images mention,
        # minus the rows' final live placement = move/delete tombstones
        # (covers chains A->B->C inside one batch: A and B both fold)
        befores = (
            batch.filter(F.col("op").isin("U", "D"))
            .filter(F.col("before").isNotNull())
            .select(
                *[F.col(f"before.{g}").alias(g) for g in self.group_cols],
                F.col(f"before.{self.row_key}").alias(self.row_key),
                F.col("ts").alias("_cdc_ts"),
                F.col("seq").alias("_cdc_seq"),
            )
            .groupBy(*self.group_cols, self.row_key)
            .agg(
                F.max("_cdc_ts").alias("_cdc_ts"),
                F.max("_cdc_seq").alias("_cdc_seq"),
            )
        )
        finals = delta.filter(~F.col("_deleted")).select(
            *self.group_cols, self.row_key
        )
        payload_cols = [
            c
            for c in delta.columns
            if c
            not in {*self.group_cols, self.row_key, "_deleted", "_cdc_ts", "_cdc_seq"}
        ]
        move_tombs = befores.join(
            finals, self.group_cols + [self.row_key], "left_anti"
        ).select(
            *self.group_cols,
            self.row_key,
            *[
                F.lit(None).cast(delta.schema[c].dataType).alias(c)
                for c in payload_cols
            ],
            F.lit(True).alias("_deleted"),
            "_cdc_ts",
            "_cdc_seq",
        )
        self.rows.write(
            delta.select(*move_tombs.columns).unionByName(move_tombs),
            commit_id=None if epoch_id is None else f"topn-rows-{epoch_id}",
            delete_col="_deleted",
        )

        touched = (
            delta.select(*self.group_cols)
            .unionByName(befores.select(*self.group_cols))
            .distinct()
        )
        buckets = self.rows.bucket_filter_for(touched)
        live = self.rows.snapshot(bucket_filter=buckets).join(
            F.broadcast(touched), self.group_cols, "left_semi"
        )
        w = Window.partitionBy(*self.group_cols).orderBy(*self._order())
        ranked = (
            live.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.n)
            .select(
                *self.group_cols,
                "rank",
                self.row_key,
                *payload_cols,
            )
        )
        # dense rank-slot frame: every (touched group, 1..N) slot —
        # missing slots after the refresh become tombstones
        slots = touched.select(
            *self.group_cols,
            F.explode(F.sequence(F.lit(1), F.lit(self.n))).alias("rank"),
        )
        refreshed = slots.join(
            ranked, self.group_cols + ["rank"], "left"
        ).withColumn("_gone", F.col(self.row_key).isNull())
        self.view_table.write(
            refreshed,
            commit_id=None if epoch_id is None else f"topn-view-{epoch_id}",
            delete_col="_gone",
        )

    def view(self) -> DataFrame:
        """Current top-N view: one row per (group, rank), dense from
        1 up to min(N, group size)."""
        return self.view_table.snapshot()


def stream_topn(
    spark: SparkSession,
    feed_dir: str,
    row_schema: T.StructType,
    path: str,
    group_cols: Sequence[str],
    row_key: str,
    order_col: str,
    n: int,
    ascending: bool = False,
    checkpoint_dir: str | None = None,
    trigger: dict | None = None,
    num_buckets: int = 16,
):
    """Continuously maintain a per-group top-N view from a CDC
    envelope feed (readStream -> foreachBatch -> TopNIVM.apply): the
    retract-rank pipeline as one call, mirroring
    :func:`stream_group_agg`. Exactly-once: epoch ids dedup replayed
    batches in both state tables."""
    from ..sources.cdc_feed import read_feed_stream

    ivm = TopNIVM(
        spark,
        path,
        group_cols,
        row_key,
        order_col,
        n,
        ascending=ascending,
        num_buckets=num_buckets,
    )
    stream = read_feed_stream(spark, feed_dir, row_schema)
    writer = stream.writeStream.foreachBatch(
        lambda b, e: ivm.apply(b, epoch_id=e)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return ivm, writer.start()
