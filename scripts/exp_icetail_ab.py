"""Same-session A/B of the ICEBERG laketail catch-up vs a git rev
(r14 — the iceberg analog of exp_laketail_ab.py): the Iceberg source
fixture (1 snapshot + 4 keyed upserts, bench.py's laketail shape) is
built ONCE, then each side's read_iceberg_changelog(first..cur) ->
LWW reduce runs under the noop sink, interleaved min-of-N
(gc-drained). Isolates the changelog computation the r14 range-wide
diff batching targets.

Usage: python scripts/exp_icetail_ab.py [--rev HEAD] [--reps 5]
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

_PKG = "streaming_data_lake_flink_cdc_apache_hudi_spark"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rev", default="HEAD")
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    from streaming_data_lake_flink_cdc_apache_hudi_spark.config import (
        DEFAULT_CPUS,
        EngineConfig,
    )

    spark = EngineConfig(
        app_name="icetail_ab",
        master=f"local[{DEFAULT_CPUS}]",
        extra={"spark.sql.files.maxPartitionBytes": "4m"},
    ).session()

    from streaming_data_lake_flink_cdc_apache_hudi_spark.sources.iceberg_interop import (  # noqa: E501
        _current_metadata_path,
        export_iceberg,
        upsert_iceberg,
    )

    root = tempfile.mkdtemp(prefix="icetail_ab_")
    src = f"{root}/tail_src"
    base = spark.range(0, 5000).selectExpr("id", "concat('v', id) AS v")
    export_iceberg(base, src, format_version=2)
    for i in range(4):
        upd = spark.range(i * 500, i * 500 + 500).selectExpr(
            "id", f"concat('u{i}-', id) AS v"
        )
        upsert_iceberg(spark, src, upd, ["id"])
    meta = json.load(open(_current_metadata_path(src)))
    first = meta["snapshots"][0]["snapshot-id"]
    cur = meta["current-snapshot-id"]

    def tail_df(pkg_root):
        """changelog read + LWW reduce of the whole range, as
        tail_iceberg_once builds it (minus the sink write)."""
        ii = importlib.import_module(f"{_PKG}.sources.iceberg_interop")
        lt = importlib.import_module(f"{_PKG}.streaming.laketail")
        # the side is chosen by the sys.modules purge + sys.path order
        # around the call; refuse to measure the wrong revision
        want = os.path.realpath(pkg_root)
        for m in (ii, lt):
            got = os.path.realpath(m.__file__)
            if os.path.commonpath([got, want]) != want:
                raise RuntimeError(
                    f"{m.__name__} imported from {got}, not under {want}"
                )
        changes = ii.read_iceberg_changelog(spark, src, first, cur)
        return lt._reduce_changes(changes, ["id"], "_change_ordinal")

    tmp = tempfile.mkdtemp(prefix="icetail_ab_rev_")
    saved = {k: v for k, v in sys.modules.items() if k.split(".")[0] == _PKG}
    try:
        ar = subprocess.run(
            ["git", "archive", args.rev, _PKG],
            capture_output=True,
            cwd=ROOT,
            timeout=60,
            check=True,
        )
        subprocess.run(
            ["tar", "-x", "-C", tmp], input=ar.stdout, check=True, timeout=60
        )
        for k in list(saved):
            del sys.modules[k]
        sys.path.insert(0, tmp)
        df_prev = tail_df(tmp)
        # purge rev modules + path, restore worktree (opt_ab r13 rule)
        for k in [k for k in sys.modules if k.split(".")[0] == _PKG]:
            del sys.modules[k]
        sys.path.remove(tmp)
        sys.modules.update(saved)
        df_now = tail_df(ROOT)
        prev_rows = df_prev.count()
        now_rows = df_now.count()
        best = {"rev": float("inf"), "now": float("inf")}
        for df in (df_prev, df_now):
            df.write.format("noop").mode("overwrite").save()  # warmup
        for _ in range(args.reps):
            for df, tag in ((df_prev, "rev"), (df_now, "now")):
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                best[tag] = min(best[tag], time.perf_counter() - t0)
        print(
            json.dumps(
                {
                    "rev": args.rev,
                    "rows": {"rev": prev_rows, "now": now_rows},
                    "tail_changelog_reduce_sec": {
                        "rev": round(best["rev"], 3),
                        "now": round(best["now"], 3),
                        "delta_pct": round(
                            (best["now"] - best["rev"]) / best["rev"] * 100,
                            1,
                        ),
                    },
                }
            )
        )
    finally:
        for k in list(sys.modules):
            if k.split(".")[0] == _PKG and k not in saved:
                del sys.modules[k]
        sys.modules.update(saved)
        if tmp in sys.path:
            sys.path.remove(tmp)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
