from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streaming_data_lake_flink_cdc_apache_hudi_spark.config import EngineConfig

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# r14 suite-runtime work (VERDICT r13 item 2 — the suite outgrew the
# driver's pytest window). Most test fixtures are KB-scale, so their
# shuffle stages are pure task-scheduling overhead: 2 shuffle
# partitions measured -26..-60% on the fixture-heavy files vs 8,
# while keeping every cross-partition code path exercised (2 > 1).
# The compute-heavy modules below REGRESSED at 2 (test_ivm standalone:
# 133 s at 2 vs 107 s at 8 — their per-batch work genuinely
# parallelizes), so they pin 8. The autouse fixture re-pins the value
# per test, which also neutralizes cross-test leakage from tests that
# call EngineConfig(...).session() mid-suite (getOrCreate applies
# runtime confs to the SHARED session).
_SP8_MODULES = {
    "test_ivm",
    "test_session_api",
    "test_oracle_parity",
    "test_topn_ivm",
    "test_state_pruning",
}

# One local-scheduler thread per core (SPARK_GRAFT_CPUS, as the tier-1
# command exports it), capped at the 8 the suite was tuned with: on
# KB-scale fixtures threads beyond the host's cores add scheduling
# overhead, not parallelism (on a 4-core host, test_upsert_lake +
# test_hudi_interop + test_timezone ran 256 s at local[8] vs 179 s at
# local[4]).
_LOCAL_THREADS = min(8, int(os.environ.get("SPARK_GRAFT_CPUS") or 8))


@pytest.fixture(scope="session")
def spark():
    cfg = EngineConfig(
        master=f"local[{_LOCAL_THREADS}]",
        shuffle_partitions=2,
        driver_memory="8g",
        app_name="engine-tests",
    )
    s = cfg.session()
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _module_shuffle_partitions(request):
    if "spark" not in request.fixturenames:
        yield
        return
    s = request.getfixturevalue("spark")
    mod = request.module.__name__.rsplit(".", 1)[-1]
    want = "8" if mod in _SP8_MODULES else "2"
    if s.conf.get("spark.sql.shuffle.partitions") != want:
        s.conf.set("spark.sql.shuffle.partitions", want)
    yield
