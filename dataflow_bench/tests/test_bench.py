"""The benchmark's own checks: deterministic inputs, an oracle that
rejects wrong results, and the span and event-log arithmetic.

Run from the repository root:

    python3 -m pytest dataflow_bench/tests -q -p no:cacheprovider

No Spark session is started.
"""

from __future__ import annotations

import json
import random
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import verify  # noqa: E402
import workloads  # noqa: E402
from spans import Span, read_event_log, self_times  # noqa: E402


def _inputs(seed: int) -> tuple:
    uni = workloads.universe(seed)
    products = [workloads.mixed_product(seed, uni), workloads.large_product(seed, uni)]
    return (
        [p.csv_text() for p in products],
        [json.dumps(p.metadata_response(), sort_keys=True) for p in products],
        json.dumps(uni.lookup_rows(), sort_keys=True),
    )


def test_generator_is_deterministic_per_seed():
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)


def _oracle_rows():
    uni = workloads.universe(5)
    p = workloads.mixed_product(5, uni)
    oracle = verify.PrimaryQueryOracle(uni, p)
    iid = verify.newest_indicators(p)[0]
    return oracle.rows(iid, "FR", "df")


def test_verifier_accepts_the_expected_rows_in_any_order():
    want = _oracle_rows()
    assert len(want) > 2
    assert verify.compare_rows(list(reversed(want)), want) is None


def test_verifier_rejects_one_altered_value():
    want = _oracle_rows()
    i = next(k for k, r in enumerate(want) if r[4] is not None)
    got = list(want)
    r = got[i]
    got[i] = r[:4] + (r[4] + 0.1,) + r[5:]
    assert verify.compare_rows(got, want) is not None


def test_verifier_rejects_one_missing_row():
    want = _oracle_rows()
    assert verify.compare_rows(want[1:], want) is not None


def test_verifier_rejects_a_wrong_table_count():
    uni = workloads.universe(5)
    p = workloads.mixed_product(5, uni)
    want = verify.expected_counts(p)
    got = dict(want, IndicatorValues=want["IndicatorValues"] - 1)
    assert verify.compare_counts(dict(want), want) is None
    assert "IndicatorValues" in verify.compare_counts(got, want)


def test_reads_after_a_commit_ask_for_served_indicators(monkeypatch):
    uni = workloads.universe(5)
    p = workloads.mixed_product(5, uni)
    asked = []

    def fake_read(ctx, run, path, pipe, lk, p, oracle, iid, loc):
        asked.append((path, oracle.rows(iid, loc, path)))
        return True

    class FakeCtx:
        rng = random.Random(1)

        def span(self, name, fn, *args):
            return fn(*args)

    monkeypatch.setattr(workloads, "checked_read", fake_read)
    workloads.reads_after_commit(FakeCtx(), workloads.Run(), "df", None, None, uni, p)
    assert len(asked) == workloads.READS
    assert all(path == "df" and rows for path, rows in asked)


def test_a_failed_op_is_counted_once_and_makes_the_run_incorrect():
    run = workloads.Run()
    run.attempted = 4
    run.fail("df PrimaryQuery 1/2/EN: row count 3 != expected 4")
    assert (run.failed, run.correct) == (1, False)
    assert run.failures == [{"op": "df PrimaryQuery 1/2/EN: row count 3 != expected 4"}]


def test_formatting_per_locale():
    assert verify.format_value(1234567.5, "EN") == "1,234,567.5"
    assert verify.format_value(1234567.5, "FR") == "1 234 567,5"


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        Span(0, "root", None, "timed", 0.0, 10.0),
        Span(1, "a", 0, "timed", 1.0, 4.0),
        Span(2, "b", 0, "timed", 5.0, 6.0),
        Span(3, "a.inner", 1, "timed", 2.0, 3.5),
        Span(4, "late", 0, "timed", 9.0, 12.0),  # clipped to the parent's end
    ]
    got = self_times(spans)
    assert got[0] == (10.0 - 3.0 - 1.0 - 1.0) * 1000.0
    assert got[1] == (3.0 - 1.5) * 1000.0
    assert got[2] == 1000.0
    assert got[3] == 1500.0
    assert got[4] == 3000.0


def test_event_log_attributes_jobs_to_groups_and_counts_each_scan_once(tmp_path):
    plan = {"nodeName": "Project", "children": [{
        "nodeName": "Scan csv ", "children": [],
        "metrics": [{"name": "number of output rows", "accumulatorId": 77}],
    }]}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "dfb-3"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"ID": 77, "Update": 10}]},
         "Task Metrics": {"Executor Run Time": 5, "JVM GC Time": 1,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                          "Input Metrics": {"Bytes Read": 40},
                          "Output Metrics": {"Bytes Written": 0}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"ID": 77, "Update": 3}]},
         "Task Metrics": {"Executor Run Time": 7}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 2}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = read_event_log(str(tmp_path))
    assert jobs[0].group == "dfb-3" and jobs[1].group is None
    assert (jobs[0].task_ms, jobs[0].gc_ms) == (12, 1)
    assert (jobs[0].shuffle_bytes, jobs[0].in_bytes, jobs[0].csv_scans) == (100, 40, 1)
    assert jobs[1].csv_scans == 0
