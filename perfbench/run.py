"""CDC-to-lake benchmark: snapshot-then-tail freshness, drain capacity and
query-back latency.

    python3 perfbench/run.py --workload ticket_tail --seed 1 --seconds 25 --trace 0

Workloads (shapes in gen.py SHAPES; rationale in perfbench/README.md):

* ``ticket_tail``   read_feed_stream -> stream_upsert -> UpsertLakeTable
                    (async compaction): 100k-ticket snapshot, an
                    open-loop tail of ticket-transfer commits, then a
                    burst backlog.
* ``flagship_view`` multiplexed person/ticket/hist feed ->
                    FlagshipStreamRunner -> FlagshipViewIVM.
* ``query_back``    one closed-loop client querying a merge-on-read table
                    (compacted base + 4 delta commits) through
                    EngineSession.table() / .sql().

Each run is one fresh process with a fresh temporary root inside the
checkout (feed, checkpoint, tables, Spark cwd and scratch), removed at
exit. The load generator runs as its own process (gen.py); the oracle
(oracle.py) checks every query and the final state after the timed part.
The last stdout line is the JSON result; ``--trace 1`` wraps the
program's layer functions (spans.py) and reports per-layer metrics in
place of the end-to-end ones.
"""

from __future__ import annotations

import time

_T_IMPORT = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen as G  # noqa: E402
from oracle import TICKET_COLS, Oracle  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "first_data_s": "s",
    "latency_p50_s": "s",
    "drain_events_per_s": "1/s",
}
PER_LAYER = {
    "cdc_feed.latest_offset_ms": "ms",
    "cdc_feed.get_batch_ms": "ms",
    "cdc_feed.backlog_files_max": "count",
    "pipeline.add_batch_ms": "ms",
    "pipeline.offset_log_ms": "ms",
    "pipeline.trigger_ms": "ms",
    "pipeline.non_batch_ms": "ms",
    "upsert_sink.write_s": "s",
    "upsert_sink.spark_jobs_per_commit": "count",
    "upsert_sink.compact_s": "s",
    "upsert_sink.compactions": "count",
    "upsert_sink.compaction_stall_s": "s",
    "upsert_sink.files_per_commit": "count",
    "upsert_sink.bytes_per_event": "B",
    "upsert_sink.compaction_bytes_rewritten": "B",
    "upsert_sink.snapshot_build_ms": "ms",
    "upsert_sink.spark_jobs_per_query": "count",
    "upsert_sink.log_files_at_query": "count",
    "session.sql_ms": "ms",
    "ivm.apply_s": "s",
    "ivm.state_write_s": "s",
    "ivm.view_write_s": "s",
    "ivm.self_s": "s",
    "ivm.spark_jobs_per_batch": "count",
    "ivm.buckets_read_frac": "ratio",
    "jvm.gc_s": "s",
    "gen.lag_s": "s",
}
TRIGGER = {"processingTime": "0 seconds"}
POLL_S = 0.05
RUN_LIMIT_S = 150.0  # every wait ends by then, so a stuck run still exits


def process_start() -> float:
    """Wall-clock start of this process (falls back to module import)."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, StopIteration):
        return _T_IMPORT


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for ln in fh:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024.0
    return 0.0


def tail_quantile(xs: list[float]) -> float:
    """p90 (``statistics.quantiles``, exclusive method), or the max of
    fewer than ten samples. The run length the benchmark can afford
    gives 1-12 samples, too few for a percentile with ten samples
    beyond it."""
    if len(xs) < 10:
        return max(xs, default=0.0)
    return statistics.quantiles(xs, n=10)[-1]


def tail_label(xs: list[float]) -> str:
    return f"{'p90' if len(xs) >= 10 else 'max'} of {len(xs)}"


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark run: generator process, engine session, temp root."""

    def __init__(self, args):
        self.args = args
        self.t_proc = process_start()
        self.root = os.path.join(
            CHECKOUT, ".perfbench_runs",
            f"{args.workload}-{args.seed}-{os.getpid()}",
        )
        shutil.rmtree(self.root, ignore_errors=True)
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(self.root, d))
        tmp = os.path.join(self.root, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.root, "spark-local")
        tempfile.tempdir = tmp
        os.chdir(self.root)
        self.gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--root", self.root],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.es = None
        self.queries = []  # streaming queries to stop
        self.tables = []  # tables whose async compactor to join
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.notes: list[str] = []
        self.report: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, float] = {}
        self.samples: list[float] = []  # the latency_* samples, in seconds
        self.extra: dict[str, tuple[float, str, str]] = {}  # per-kind e2e lines

    # -- generator protocol ----------------------------------------------

    def tell(self, cmd: str, expect: str) -> str:
        self.gen.stdin.write(cmd + "\n")
        self.gen.stdin.flush()
        return self.expect(expect)

    def expect(self, word: str) -> str:
        line = self.gen.stdout.readline()
        if not line.startswith(word):
            raise RuntimeError(f"generator said {line!r}, expected {word!r}")
        return line[len(word):].strip()

    # -- session -----------------------------------------------------------

    def start_session(self):
        from streaming_data_lake_flink_cdc_apache_hudi_spark.config import EngineConfig
        from streaming_data_lake_flink_cdc_apache_hudi_spark.session import EngineSession

        cpus = len(os.sched_getaffinity(0))
        ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
        cfg = EngineConfig(
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            driver_memory=f"{max(1, min(8, int(ram_gb // 5)))}g",
            extra={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.root, "spark-local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.root, 'tmp')}",
                "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
            },
        )
        self.es = EngineSession(cfg)
        self.spark = self.es.spark
        self.spark.sparkContext.setLogLevel("ERROR")
        jvm = self.spark.sparkContext._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
            self.gc0 = self.tracer.gc_seconds()
            self.tracer.install()

    def close(self):
        for q in self.queries:
            try:
                q.stop()
            except Exception as e:  # shutting down: report, keep closing
                print(f"stopping stream: {e!r}", file=sys.stderr)
        for t in self.tables:
            t.wait_for_compaction(timeout=60)
        if self.tracer is not None:
            self.tracer.uninstall()
        if self.es is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.es.spark.stop()
            # the JVM exits when its stdin closes; wait for it, so the
            # run ends with every process it started
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        if self.gen.poll() is None:
            self.gen.kill()
        self.gen.wait()
        os.chdir(CHECKOUT)
        shutil.rmtree(self.root, ignore_errors=True)
        runs = os.path.dirname(self.root)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)

    # -- helpers -----------------------------------------------------------

    def wait_commits(self, table, ids: list[str], deadline: float) -> dict:
        """Poll the sink's commit timeline until every id is recorded or
        the deadline passes; returns commit_id -> commit metadata."""
        want = set(ids)
        while True:
            got = {c["commit_id"]: c for c in table.commits() if c["commit_id"] in want}
            if len(got) == len(want) or time.time() > deadline:
                return got
            time.sleep(POLL_S)

    def until(self, seconds: float) -> float:
        """A deadline ``seconds`` from now, capped by the run's limit."""
        return min(time.time() + seconds, self.t_proc + RUN_LIMIT_S)

    @staticmethod
    def committed_at(done: dict, fmt: str, commits: list[dict]) -> float:
        """When the last of ``commits`` was recorded; NaN if one is missing."""
        ids = [fmt.format(c["i"]) for c in commits]
        if any(i not in done for i in ids):
            return float("nan")
        return max(done[i]["wall_time"] for i in ids)

    def epoch_files(self, checkpoint: str) -> dict[int, set[str]]:
        """batchId -> feed files, from the file source's offset log
        (compaction repeats entries in ``<n>.compact`` files)."""
        out: dict[int, set[str]] = {}
        d = os.path.join(checkpoint, "sources", "0")
        for name in os.listdir(d):
            if name.startswith("."):
                continue
            with open(os.path.join(d, name)) as fh:
                for ln in fh:
                    ln = ln.strip()
                    if ln.startswith("{"):
                        e = json.loads(ln)
                        out.setdefault(int(e["batchId"]), set()).add(
                            os.path.basename(e["path"]))
        return out

    def check_mapping(self, commits: list[dict], checkpoint: str, progress,
                      single_read: bool) -> None:
        """maxFilesPerTrigger=1: epoch e must consume exactly feed commit
        e; cross-checked against the per-batch input row counts where
        the sink reads each batch once."""
        files = self.epoch_files(checkpoint)
        rows = {p.batchId: p.numInputRows for p in progress}
        for c in commits:
            ok = files.get(c["i"]) == {c["file"]}
            if single_read and c["i"] in rows:
                ok = ok and rows[c["i"]] == c["events"]
            if not ok:
                c["failed"] = True
                self.notes.append(f"epoch {c['i']} does not map to {c['file']}")

    def fail_missing(self, commits: list[dict], got: dict, fmt: str) -> None:
        for c in commits:
            self.attempted += 1
            if fmt.format(c["i"]) not in got or c.get("failed"):
                self.failed += 1

    def set_e2e(self, **kw):
        for k, v in kw.items():
            self.report[k] = (float(v), END_TO_END[k])

    def progress_layers(self, progress, epochs: set[int]) -> None:
        ps = [p for p in progress if p.batchId in epochs and p.numInputRows > 0]
        d = [p.durationMs for p in ps]
        get = lambda k: [x.get(k, 0) for x in d]  # noqa: E731
        trig, add = get("triggerExecution"), get("addBatch")
        self.layer.update({
            "cdc_feed.latest_offset_ms": median(get("latestOffset")),
            "cdc_feed.get_batch_ms": median(get("getBatch")),
            "pipeline.add_batch_ms": median(add),
            "pipeline.offset_log_ms": median(
                [a + b for a, b in zip(get("walCommit"), get("commitOffsets"))]),
            "pipeline.trigger_ms": median(trig),
            "pipeline.non_batch_ms": median([t - a for t, a in zip(trig, add)]),
        })

    def backlog_max(self, commits: list[dict], done: dict, fmt: str) -> int:
        """Most feed files landed but not yet committed to the sink."""
        ev = []
        for c in commits:
            ev.append((c["landed"], 1))
            m = done.get(fmt.format(c["i"]))
            if m is not None:
                ev.append((m["wall_time"], -1))
        level = peak = 0
        for _, d in sorted(ev, key=lambda e: (e[0], e[1])):
            level += d
            peak = max(peak, level)
        return peak

    def read_back(self, name: str, path: str, key: list[str]):
        """The program's final table, read back through EngineSession."""
        self.es.create_upsert_table(name, path, key=key)
        return self.es.table(name).toArrow()

    # -- workloads ---------------------------------------------------------

    def ready(self) -> tuple[dict[str, list[dict]], dict]:
        """Wait for the generator; its planned commits by phase, and the
        rest of its plan (warm-up and timed queries)."""
        msg = json.loads(self.expect("ready"))
        phases: dict[str, list[dict]] = {}
        for c in msg["commits"]:
            phases.setdefault(c["phase"], []).append(c)
        return phases, msg

    def stop_after(self, q, last_epoch: int) -> None:
        """Stop a stream once it has reported progress for its last epoch
        (the sink commit lands inside the batch, before its progress)."""
        deadline = self.until(10)
        while time.time() < deadline and not any(
                p.batchId >= last_epoch for p in q.recentProgress):
            time.sleep(POLL_S)
        q.stop()

    def wait_phase(self, table, commits: list[dict], fmt: str, seconds: float) -> dict:
        ids = [fmt.format(c["i"]) for c in commits]
        return self.wait_commits(table, ids, self.until(seconds))

    def settle(self, checkpoint: str, progress, done: dict, fmt: str,
               single_read: bool) -> tuple[list[dict], dict[int, dict]]:
        """End the generator, then check and count every feed commit."""
        self.tell("end", "bye")
        with open(os.path.join(self.root, "ledger.json")) as fh:
            ledger = json.load(fh)
        self.check_mapping(ledger, checkpoint, progress, single_read)
        self.fail_missing(ledger, done, fmt)
        return ledger, {c["i"]: c for c in ledger}

    def stream_layers(self, progress, ledger, done, fmt, epochs: set[int],
                      fresh: list[float]) -> None:
        self.progress_layers(progress, epochs)
        self.sink_layers(ledger, epochs, fresh)
        self.layer["cdc_feed.backlog_files_max"] = self.backlog_max(
            [c for c in ledger if c["i"] in epochs], done, fmt)
        self.layer["gen.lag_s"] = max(c["landed"] - c["due"] for c in ledger)

    def ticket_tail(self):
        from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.cdc_feed import (
            read_feed_stream,
        )
        from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.pipeline import (
            stream_upsert,
        )
        from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.upsert_sink import (
            UpsertLakeTable,
        )

        phases, _ = self.ready()
        snap, tail, burst = phases["snapshot"], phases["tail"], phases["burst"]
        tbl = UpsertLakeTable(self.spark, os.path.join(self.root, "tickets"),
                              key="id", compaction_mode="async")
        self.tables.append(tbl)
        ckpt = os.path.join(self.root, "ckpt")
        q = stream_upsert(
            read_feed_stream(self.spark, os.path.join(self.root, "feed"),
                             G.ticket_row_schema()),
            tbl, ckpt, trigger=TRIGGER)
        self.queries.append(q)
        t_stream = time.time()
        self.set_e2e(setup_s=t_stream - self.t_proc)
        fmt = "epoch-{}"
        done = self.wait_phase(tbl, snap, fmt, 120)
        self.tell(f"tail {time.time() + 0.25}", "tail-done")
        done.update(self.wait_phase(tbl, tail, fmt, 30))
        self.tell("burst", "burst-done")
        done.update(self.wait_phase(tbl, burst, fmt, 60))
        self.stop_after(q, burst[-1]["i"])
        tbl.wait_for_compaction(timeout=60)
        ledger, by_i = self.settle(ckpt, q.recentProgress, done, fmt, single_read=True)

        fresh = self.samples = [
            done[fmt.format(c["i"])]["wall_time"] - by_i[c["i"]]["due"]
            for c in tail if fmt.format(c["i"]) in done]
        b_land = min(by_i[c["i"]]["landed"] for c in burst)
        b_end = max((done[fmt.format(c["i"])]["wall_time"] for c in burst
                     if fmt.format(c["i"]) in done), default=float("nan"))
        self.set_e2e(
            first_data_s=self.committed_at(done, fmt, snap) - t_stream,
            latency_p50_s=median(fresh),
            drain_events_per_s=sum(c["events"] for c in burst) / (b_end - b_land),
        )
        self.extra = {
            "freshness_p50_s": (median(fresh), "s", f"n={len(fresh)}"),
            "freshness_tail_s": (tail_quantile(fresh), "s", tail_label(fresh)),
        }
        if self.tracer is not None:
            self.stream_layers(q.recentProgress, ledger, done, fmt,
                               {c["i"] for c in tail}, fresh)

        bad = Oracle(self.root).ticket_mismatches(
            self.read_back("tickets", tbl.path, ["id"]))
        if bad:
            self.correct = False
            self.notes.append(f"final ticket table: {bad} rows differ from the oracle")

    def flagship_view(self):
        from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.ivm import (
            FlagshipStreamRunner,
        )

        phases, _ = self.ready()
        snap, tail = phases["snapshot"], phases["tail"]
        runner = FlagshipStreamRunner(
            self.spark, os.path.join(self.root, "job"), os.path.join(self.root, "feed"))
        q = runner.start(trigger=TRIGGER)
        self.queries.append(q)
        t_stream = time.time()
        self.set_e2e(setup_s=t_stream - self.t_proc)
        view = runner.ivm.view
        fmt = "epoch-{}-view"
        done = self.wait_phase(view, snap, fmt, 120)
        self.tell(f"tail {time.time() + 0.25}", "tail-done")
        done.update(self.wait_phase(view, tail, fmt, 60))
        self.stop_after(q, tail[-1]["i"])
        # the IVM reads each batch several times, so input row counts
        # are not file sizes here
        ledger, by_i = self.settle(runner.checkpoint, q.recentProgress, done, fmt,
                                   single_read=False)

        fresh = self.samples = [
            done[fmt.format(c["i"])]["wall_time"] - by_i[c["i"]]["due"]
            for c in tail if fmt.format(c["i"]) in done]
        first_data = self.committed_at(done, fmt, snap) - t_stream
        self.set_e2e(
            first_data_s=first_data,
            latency_p50_s=median(fresh),
            drain_events_per_s=sum(c["events"] for c in snap) / first_data,
        )
        self.extra = {
            "freshness_p50_s": (median(fresh), "s", f"n={len(fresh)}"),
            "freshness_tail_s": (tail_quantile(fresh), "s", tail_label(fresh)),
        }
        if self.tracer is not None:
            epochs = {c["i"] for c in tail}
            self.stream_layers(q.recentProgress, ledger, done, fmt, epochs, fresh)
            self.ivm_layers(epochs)

        oracle = Oracle(self.root)
        bad = oracle.view_mismatches(
            self.read_back("ticket_view", view.path, ["full_name"]))
        bad += oracle.ticket_mismatches(
            self.read_back("ticket_state", runner.ivm.ticket.path, ["id"]))
        if bad:
            self.correct = False
            self.notes.append(f"final view/state: {bad} rows differ from the oracle")

    def query_back(self):
        from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.cdc_feed import (
            read_feed_stream,
        )
        from streaming_data_lake_flink_cdc_apache_hudi_spark.streaming.pipeline import (
            stream_upsert,
        )

        phases, plan = self.ready()
        snap, deltas = phases["snapshot"], phases["burst"]
        path = os.path.join(self.root, "tickets")
        tbl = self.es.create_upsert_table("tickets", path, key=["id"], compact_every=5)
        ckpt = os.path.join(self.root, "ckpt")
        feed = os.path.join(self.root, "feed")

        def drain():
            q = stream_upsert(read_feed_stream(self.spark, feed, G.ticket_row_schema()),
                              tbl, ckpt)
            q.awaitTermination(max(1.0, self.until(120) - time.time()))
            return q

        fmt = "epoch-{}"
        t_stream = time.time()
        q1 = drain()
        done = self.wait_phase(tbl, snap, fmt, 0)
        tbl.compact()
        self.tell("burst", "burst-done")
        q2 = drain()
        done.update(self.wait_phase(tbl, deltas, fmt, 0))
        progress = list(q1.recentProgress) + list(q2.recentProgress)
        ledger, by_i = self.settle(ckpt, progress, done, fmt, single_read=True)
        oracle = Oracle(self.root)

        cols = ", ".join(TICKET_COLS)
        texts = {
            "dup_check": "SELECT id, count(*) AS cnt FROM tickets "
                         "GROUP BY id HAVING count(*) > 1",
            "holder_count": "SELECT ticketholder_id, count(*) AS cnt FROM tickets "
                            "GROUP BY ticketholder_id",
        }
        def run_query(qd) -> float | None:
            """Latency of one checked query; None if it failed."""
            text = (f"SELECT {cols} FROM tickets WHERE id = {qd[1]!r}"
                    if qd[0] == "point" else texts[qd[0]])
            self.attempted += 1
            t0 = time.time()
            try:
                self.es.table("tickets")
                rows = [tuple(r) for r in self.es.sql(text).collect()]
            except Exception as e:  # a failed query is counted, not fatal
                self.failed += 1
                self.notes.append(f"query {qd!r} raised {e!r}")
                return None
            dt_q = time.time() - t0
            if not oracle.query_ok(qd, rows):
                self.failed += 1
                self.notes.append(f"query {qd!r} returned a wrong result")
                return None
            return dt_q

        # the first query of each shape pays for planning and code
        # generation once per session: part of set-up, not of latency
        for qd in plan["warmup"]:
            run_query(qd)
        self.set_e2e(setup_s=time.time() - self.t_proc)
        self.warm_queries = len(plan["warmup"])
        lat = {"point": [], "scan": []}
        for qd in plan["queries"]:
            dt_q = run_query(qd)
            if dt_q is not None:
                lat["point" if qd[0] == "point" else "scan"].append(dt_q)

        d_land = min(by_i[c["i"]]["landed"] for c in deltas)
        allq = self.samples = lat["point"] + lat["scan"]
        self.set_e2e(
            first_data_s=self.committed_at(done, fmt, snap) - t_stream,
            latency_p50_s=median(allq),
            drain_events_per_s=sum(c["events"] for c in deltas)
            / (self.committed_at(done, fmt, deltas) - d_land),
        )
        self.extra = {
            "point_lookup_p50_s": (median(lat["point"]), "s", f"n={len(lat['point'])}"),
            "point_lookup_tail_s": (tail_quantile(lat["point"]), "s",
                                    tail_label(lat["point"])),
            "scan_agg_p50_s": (median(lat["scan"]), "s", f"n={len(lat['scan'])}"),
            "scan_agg_tail_s": (tail_quantile(lat["scan"]), "s",
                                tail_label(lat["scan"])),
        }
        if self.tracer is not None:
            self.stream_layers(progress, ledger, done, fmt, {c["i"] for c in ledger}, [])
            self.query_layers()
        bad = oracle.ticket_mismatches(self.read_back("tickets_check", path, ["id"]))
        if bad:
            self.correct = False
            self.notes.append(f"final ticket table: {bad} rows differ from the oracle")

    # -- per-layer metrics -------------------------------------------------

    def sink_layers(self, ledger, epochs: set[int], fresh: list[float]) -> None:
        tr = self.tracer
        ids = {f"epoch-{i}" for i in epochs}
        # flagship state/view writes carry "epoch-<e>-<table>" ids
        writes = [s for s in tr.closed("upsert_sink.write")
                  if (s["attrs"].get("commit_id") or "").rsplit("-", 1)[0] in ids
                  or s["attrs"].get("commit_id") in ids]
        events = {f"epoch-{c['i']}": c["events"] for c in ledger}
        epoch_of = lambda w: "-".join(w["attrs"]["commit_id"].split("-")[:2])  # noqa: E731
        comps = [s for s in tr.closed("upsert_sink.compact") if s["attrs"].get("seq")]
        stall = [tr.overlap_with(w, "upsert_sink.compact")
                 + sum(c["end"] - c["start"]
                       for c in tr.children(w, "upsert_sink.compact"))
                 for w in writes]
        sized = [w for w in writes if "files" in w["attrs"]]
        self.layer.update({
            "upsert_sink.write_s": median([w["end"] - w["start"] for w in writes]),
            "upsert_sink.spark_jobs_per_commit": median(
                [w["jobs1"] - w["jobs0"] for w in writes]),
            "upsert_sink.compact_s": median([c["end"] - c["start"] for c in comps]),
            "upsert_sink.compactions": len(comps),
            "upsert_sink.compaction_stall_s": sum(stall),
            "upsert_sink.files_per_commit": median([w["attrs"]["files"] for w in sized]),
            "upsert_sink.bytes_per_event": median(
                [w["attrs"]["bytes"] / events[epoch_of(w)] for w in sized]),
            "upsert_sink.compaction_bytes_rewritten": sum(
                c["attrs"]["rewritten"] for c in comps),
        })
        if fresh and writes:
            # does compaction stall explain the p50 -> tail gap?
            gap = tail_quantile(fresh) - median(fresh)
            self.notes.append(
                f"freshness tail-p50 gap {gap:.3f} s; largest per-commit "
                f"compaction stall {max(stall):.3f} s over {len(writes)} commits")

    def ivm_layers(self, epochs: set[int]) -> None:
        tr = self.tracer
        ids = {f"epoch-{i}" for i in epochs}
        applies = [s for s in tr.closed("ivm.apply")
                   if s["attrs"].get("commit_id") in ids]
        state, viewt, selft, jobs, frac = [], [], [], [], []
        for a in applies:
            ws = tr.children(a, "upsert_sink.write")
            viewt.append(sum(w["end"] - w["start"] for w in ws
                             if w["attrs"]["table"] == "view"))
            state.append(sum(w["end"] - w["start"] for w in ws
                             if w["attrs"]["table"] != "view"))
            selft.append(tr.self_time(a))
            jobs.append(a["jobs1"] - a["jobs0"])
            frac.append(a["attrs"]["buckets_read"] / a["attrs"]["buckets_held"])
        self.layer.update({
            "ivm.apply_s": median([a["end"] - a["start"] for a in applies]),
            "ivm.state_write_s": median(state),
            "ivm.view_write_s": median(viewt),
            "ivm.self_s": median(selft),
            "ivm.spark_jobs_per_batch": median(jobs),
            "ivm.buckets_read_frac": median(frac),
        })

    def query_layers(self) -> None:
        tr = self.tracer
        w = self.warm_queries
        tables = [s for s in tr.closed("session.table")
                  if s["attrs"].get("name") == "tickets"][w:]
        sqls = tr.closed("session.sql")[w:]
        snaps = [s for s in tr.closed("upsert_sink.snapshot")
                 if s["parent"] in {t["id"] for t in tables}]
        n = min(len(tables), len(sqls))
        # jobs per query: everything submitted between one query's
        # .table() call and the next query's
        jobs = [tables[i + 1]["jobs0"] - tables[i]["jobs0"] for i in range(n - 1)]
        self.layer.update({
            "upsert_sink.snapshot_build_ms": 1e3 * median(
                [s["end"] - s["start"] for s in snaps]),
            "upsert_sink.spark_jobs_per_query": median(jobs),
            "upsert_sink.log_files_at_query": median(
                [t["attrs"].get("log_files", 0) for t in tables]),
            "session.sql_ms": 1e3 * median(
                [(tables[i]["end"] - tables[i]["start"])
                 + (sqls[i]["end"] - sqls[i]["start"]) for i in range(n)]),
        })

    # -- result ------------------------------------------------------------

    def finish(self) -> dict:
        for k, (v, u) in self.report.items():
            print(f"e2e  {k:28s} {v:12.4f} {u}")
        # printed, not a JSON metric: one or two compaction stalls or
        # slow queries set it, and it spread 0.3-0.4 (IQR/median) over
        # ten seeds on a shared 4-core host
        if self.samples:
            print(f"e2e  {'latency_tail_s':28s} {tail_quantile(self.samples):12.4f} s")
        # printed, not a JSON metric: the JVM's peak RSS follows G1 heap
        # growth and spreads 5-20 % between identical runs
        rss = vm_hwm_mb() + vm_hwm_mb(self.jvm_pid)
        print(f"e2e  {'peak_rss_mb':28s} {rss:12.4f} MB")
        for k, (v, u, how) in self.extra.items():
            print(f"e2e  {k:28s} {v:12.4f} {u}  ({how})")
        print("samples " + " ".join(f"{x:.3f}" for x in sorted(self.samples)))
        frac = self.failed / max(1, self.attempted)
        print(f"e2e  {'failed_frac':28s} {frac:12.4f} ratio  "
              f"({self.failed}/{self.attempted})")
        if self.tracer is not None:
            self.layer["jvm.gc_s"] = self.tracer.gc_seconds() - self.gc0
            spans = os.path.join(CHECKOUT, ".perfbench_runs", "spans",
                                 os.path.basename(self.root) + ".json")
            self.tracer.dump(spans)
            self.notes.append(f"spans written to {os.path.relpath(spans, CHECKOUT)}")
            for k in PER_LAYER:
                self.layer.setdefault(k, 0.0)
                print(f"layer {k:36s} {self.layer[k]:14.4f} {PER_LAYER[k]}")
            metrics = {k: {"value": float(self.layer[k]), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": self.report[k][0], "unit": u}
                       for k, u in END_TO_END.items()}
        nan = [k for k, m in metrics.items() if m["value"] != m["value"]]
        if nan:
            self.correct = False
            self.notes.append(f"unmeasured: {nan}")
            for k in nan:
                metrics[k]["value"] = -1.0
        for n in self.notes:
            print(f"note {n}")
        return {"correct": self.correct and self.failed == 0,
                "attempted": max(1, self.attempted),
                "failed": self.failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(G.SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, CHECKOUT)
    try:
        import streaming_data_lake_flink_cdc_apache_hudi_spark  # noqa: F401
    except ImportError as e:
        print(f"program not found next to the benchmark: {e}", file=sys.stderr)
        return 2
    run = Run(args)
    try:
        run.start_session()
        getattr(run, args.workload)()
        result = run.finish()
    finally:
        run.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
