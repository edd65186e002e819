"""Spans around calls into the program's public layer functions.

Installed only for a traced run (``--trace 1``): it wraps, from outside
the program, ``UpsertLakeTable.write / compact / snapshot``,
``FlagshipViewIVM.apply`` and ``EngineSession.table / sql``. Spans are
kept in memory (name, start, end, thread, parent, attributes) and
turned into per-layer metrics once the run is over.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    # -- counters read at span boundaries ------------------------------------

    def jobs_started(self) -> int:
        """Spark jobs submitted so far by this session (all threads)."""
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def gc_seconds(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3

    # -- spans ---------------------------------------------------------------

    def _wrap(self, owner, attr: str, name: str, before=None, after=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(obj, *args, **kwargs):
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            span = {
                "name": name,
                "thread": threading.get_ident(),
                "parent": stack[-1]["id"] if stack else None,
                "attrs": {},
            }
            with tracer._lock:
                span["id"] = len(tracer.spans)
                tracer.spans.append(span)
            if before is not None:
                before(obj, span, args, kwargs)
            stack.append(span)
            span["jobs0"] = tracer.jobs_started()
            span["start"] = time.time()
            try:
                result = orig(obj, *args, **kwargs)
            finally:
                span["end"] = time.time()
                span["jobs1"] = tracer.jobs_started()
                stack.pop()
            if after is not None:
                after(obj, span, result)
            return result

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from streaming_data_lake_flink_cdc_apache_hudi_spark.session import EngineSession
        from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.ivm import (
            FlagshipViewIVM,
        )
        from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.upsert_sink import (
            UpsertLakeTable,
        )

        def write_before(tbl, span, args, kwargs):
            span["attrs"]["table"] = os.path.basename(tbl.path)
            span["attrs"]["commit_id"] = kwargs.get("commit_id")

        def write_after(tbl, span, seq):
            # the commit's own log files; a compactor may already be
            # folding them, in which case the sample is skipped
            d = os.path.join(tbl.path, "log", f"commit={seq}")
            try:
                files = [
                    os.path.join(r, f)
                    for r, _, fs in os.walk(d)
                    for f in fs
                    if f.endswith(".parquet")
                ]
                span["attrs"]["files"] = len(files)
                span["attrs"]["bytes"] = sum(os.path.getsize(f) for f in files)
            except OSError:
                pass

        def compact_before(tbl, span, args, kwargs):
            span["attrs"]["table"] = os.path.basename(tbl.path)
            span["attrs"]["base0"] = tbl.storage_stats()["base_bytes_per_bucket"]

        def compact_after(tbl, span, seq):
            base1 = tbl.storage_stats()["base_bytes_per_bucket"]
            base0 = span["attrs"].pop("base0")
            span["attrs"]["rewritten"] = sum(
                v for b, v in base1.items() if base0.get(b) != v
            )
            span["attrs"]["seq"] = seq

        def snapshot_before(tbl, span, args, kwargs):
            span["attrs"]["table"] = os.path.basename(tbl.path)

        def apply_after(ivm, span, _):
            tables = {
                "person": ivm.person,
                "ticket": ivm.ticket,
                "ticket_by_holder": ivm.ticket_by_holder,
                "hist": ivm.hist,
            }
            read = held = 0
            for k, t in tables.items():
                b = ivm.last_read_buckets.get(k)
                read += t.num_buckets if b is None else len(b)
                held += t.num_buckets
            span["attrs"]["buckets_read"] = read
            span["attrs"]["buckets_held"] = held

        def table_after(es, span, df):
            try:
                span["attrs"]["log_files"] = es.registry.upsert_handle(
                    span["attrs"]["name"]
                ).storage_stats()["log_files"]
            except (KeyError, TypeError):
                pass

        def table_before(es, span, args, kwargs):
            span["attrs"]["name"] = args[0] if args else kwargs.get("name")

        self._wrap(UpsertLakeTable, "write", "upsert_sink.write", write_before, write_after)
        self._wrap(UpsertLakeTable, "compact", "upsert_sink.compact", compact_before, compact_after)
        self._wrap(UpsertLakeTable, "snapshot", "upsert_sink.snapshot", snapshot_before)
        def apply_before(ivm, span, args, kwargs):
            span["attrs"]["commit_id"] = kwargs.get("commit_id")

        self._wrap(FlagshipViewIVM, "apply", "ivm.apply", apply_before, apply_after)
        self._wrap(EngineSession, "table", "session.table", table_before, table_after)
        self._wrap(EngineSession, "sql", "session.sql")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def dump(self, path: str) -> None:
        """Write every span once, at the end of the run."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)

    # -- derived -------------------------------------------------------------

    def closed(self, name: str) -> list[dict]:
        """Finished spans called ``name``, in start order."""
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def children(self, span: dict, name: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["parent"] == span["id"] and "end" in s
            and (name is None or s["name"] == name)
        ]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its child spans cover."""
        covered, last = 0.0, span["start"]
        for c in sorted(self.children(span), key=lambda s: s["start"]):
            lo, hi = max(c["start"], last), min(c["end"], span["end"])
            if hi > lo:
                covered += hi - lo
                last = hi
        return (span["end"] - span["start"]) - covered

    def overlap_with(self, span: dict, name: str) -> float:
        """Seconds of ``span`` during which a ``name`` span ran on
        another thread."""
        ivs = sorted(
            (max(s["start"], span["start"]), min(s["end"], span["end"]))
            for s in self.spans
            if s["name"] == name and "end" in s and s["thread"] != span["thread"]
        )
        total, last = 0.0, span["start"]
        for lo, hi in ivs:
            lo = max(lo, last)
            if hi > lo:
                total += hi - lo
                last = hi
        return total
