"""Tests of the benchmark's own pieces; none starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import random
from datetime import datetime
from pathlib import Path

import pyarrow as pa
import pytest

import measure
import run


# -- tail percentile --------------------------------------------------------

@pytest.mark.parametrize("n,p", [(20, 50), (24, 58), (40, 75), (87, 88), (100, 90), (1000, 99)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert measure.tail_percentile(n) == p
    values = list(range(n))
    at = measure.percentile(values, p)
    assert sum(v > at for v in values) >= measure.MIN_BEYOND
    # by nearest rank, the next percentile up would leave fewer than ten beyond
    assert n - math.ceil((p + 1) / 100 * n) < measure.MIN_BEYOND


@pytest.mark.parametrize("n", [0, 5, 10, 19])
def test_tail_percentile_absent_for_few_samples(n):
    assert measure.tail_percentile(n) is None


def test_percentile_interpolates_between_neighbours():
    assert measure.percentile([5, 1, 3, 2, 4], 50) == 3
    assert measure.percentile([4, 1, 3, 2], 50) == pytest.approx(2.5)
    assert measure.percentile([5, 1, 3, 2, 4], 100) == 5
    assert measure.percentile([5, 1, 3, 2, 4], 0) == 1
    assert measure.percentile([0, 10], 75) == pytest.approx(7.5)
    assert measure.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        measure.percentile([], 50)


def test_workload_tail_percentiles_follow_min_passes():
    for wl in run.WORKLOADS.values():
        n = wl.min_passes * sum(len(m) for m in wl.clients)
        assert wl.tail_p == measure.tail_percentile(n)


# -- result hashing ---------------------------------------------------------

@pytest.fixture(scope="module")
def canon():
    from hive_apache_ci_spark.verify import _canon

    return _canon


def test_hash_ignores_row_and_column_order(canon):
    rows = [(1, "a", 2.5), (2, "b", None), (1, "a", 2.5)]
    h = measure.result_hash(["k", "s", "v"], rows, canon)
    shuffled = rows[:]
    random.Random(0).shuffle(shuffled)
    assert measure.result_hash(["k", "s", "v"], shuffled, canon) == h
    swapped = [(v, k, s) for k, s, v in rows]
    assert measure.result_hash(["V", "K", "S"], swapped, canon) == h


def test_hash_sees_multiplicity_types_and_values(canon):
    base = measure.result_hash(["k"], [(1,), (1,)], canon)
    assert measure.result_hash(["k"], [(1,)], canon) != base
    assert measure.result_hash(["k"], [(1.0,), (1.0,)], canon) != base
    assert measure.result_hash(["k"], [(1,), (2,)], canon) != base
    assert measure.result_hash(["j"], [(1,), (1,)], canon) != base


def test_hash_canonicalises_like_the_oracle_side(canon):
    ts = datetime(2024, 1, 1, 12, 30)
    a = measure.result_hash(["t", "b"], [(ts, b"\x01")], canon)
    assert measure.result_hash(["t", "b"], [(datetime.fromisoformat(ts.isoformat()), b"\x01")], canon) == a


# -- spans and self time ----------------------------------------------------

def _span(sid, parent, name, start, end):
    return measure.Span(sid, parent, name, "op1", start, end)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, "op", 0.0, 10.0),
        _span(1, 0, "build", 1.0, 4.0),
        _span(2, 0, "action", 3.0, 8.0),  # overlaps build by 1 s
        _span(3, 2, "inner", 5.0, 6.0),
    ]
    st = measure.self_times(spans)
    assert st["op"] == pytest.approx(10.0 - 7.0)
    assert st["build"] == pytest.approx(3.0)
    assert st["action"] == pytest.approx(5.0 - 1.0)
    assert st["inner"] == pytest.approx(1.0)


def test_covered_within_clips_to_the_window():
    assert measure.covered_within((2.0, 6.0), [(0.0, 3.0), (2.5, 4.0), (5.0, 9.0)]) == pytest.approx(3.0)
    assert measure.union_length([]) == 0.0


def test_tracer_nests_per_thread_and_is_free_when_off():
    t = measure.Tracer(enabled=True)
    with t.span("op", "x"):
        with t.span("child", "x"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("op", None), ("child", 0)]
    off = measure.Tracer(enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []


# -- event log --------------------------------------------------------------

def _events():
    def task(stage, launch, finish, run_ms=100, cpu_ns=50_000_000, shuffle_w=0):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 10,
                "Input Metrics": {"Bytes Read": 1000},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 3,
            },
        }

    def job(jid, group, submit, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
                "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}}

    return [json.dumps(e) for e in [
        {"Event": "SparkListenerApplicationStart"},
        job(0, "op1:q", 1000, [0, 1]),
        task(0, 1200, 1300, shuffle_w=5), task(0, 1200, 1500), task(1, 1600, 1700),
        job(1, "op2:k", 2000, [2]),
        task(2, 2050, 2100), task(2, 2050, 2100), task(2, 2050, 2100),
    ]]


def test_event_log_attributes_work_to_job_groups():
    groups, skews = measure.parse_event_log(_events())
    g1, g2 = groups["op1:q"], groups["op2:k"]
    assert (g1.jobs, len(g1.stages), g1.tasks) == (1, 2, 3)
    assert (g2.jobs, len(g2.stages), g2.tasks) == (1, 1, 3)
    assert g1.job_wait_s == pytest.approx(0.2)
    assert g2.job_wait_s == pytest.approx(0.05)
    assert g1.executor_run_s == pytest.approx(0.3)
    assert g1.executor_cpu_s == pytest.approx(0.15)
    assert g1.gc_s == pytest.approx(0.03)
    assert (g1.input_bytes, g1.shuffle_read_bytes, g1.shuffle_write_bytes, g1.spill_bytes) == (3000, 21, 5, 9)
    # stage 0: tasks of 0.1 s and 0.3 s -> max/median 3; stage 2 uniform -> 1
    assert sorted(skews) == pytest.approx([1.0, 3.0])
    # op1 ran 1.0-1.8: tasks cover 1.2-1.5 and 1.6-1.7
    window = (1.0, 1.8)
    assert 0.8 - measure.covered_within(window, g1.task_intervals) == pytest.approx(0.4)


# -- outcomes ---------------------------------------------------------------

class _FakeFrame:
    def __init__(self, rows):
        self.columns = ["k", "v"]
        self._rows = rows

    def collect(self):
        return self._rows


def _bench(tmp_path: Path, canon) -> run.Bench:
    bench = run.Bench(run.WORKLOADS["batch_c2"], seed=1, trace=False, rundir=tmp_path)
    bench.canon = canon
    bench.expected = {"right": measure.result_hash(["k", "v"], [(1, "a")], canon)}
    bench.expected["wrong"] = bench.expected["right"]
    bench.queries = {
        "right": lambda spark, d: _FakeFrame([(1, "a")]),
        "wrong": lambda spark, d: _FakeFrame([(1, "b")]),
        "boom": lambda spark, d: 1 / 0,
    }
    bench.spark = None
    return bench


def test_wrong_result_and_exception_count_as_failures(tmp_path, canon):
    bench = _bench(tmp_path, canon)
    assert bench.run_op("right").ok
    wrong = bench.run_op("wrong")
    boom = bench.run_op("boom")
    assert not wrong.ok and not boom.ok
    assert (bench.attempted, bench.failed) == (3, 2)
    assert bench.failures[0] == "wrong: wrong result"
    assert bench.failures[1].startswith("boom: ZeroDivisionError")
    results = [run.ClientResult(samples=[bench.run_op("right")] * 20, elapsed=2.0)]
    e2e = run.end_to_end(bench, results, peak_kb=1024)
    assert e2e["metrics"]["qps"][0] == pytest.approx(10.0)


# -- generated inputs -------------------------------------------------------

def test_etl_deltas_are_seeded_one_event_per_key_and_tracked():
    orders = pa.table({
        "o_orderkey": list(range(400)), "o_custkey": [1] * 400, "o_orderstatus": ["F"] * 400,
        "o_totalprice": [1.0] * 400, "o_orderdate": [datetime(2000, 1, 1)] * 400,
        "o_orderpriority": ["1-URGENT"] * 400,
    })
    a, b = run.EtlModel(orders, seed=5), run.EtlModel(orders, seed=5)
    for _ in range(3):
        da, db = a.delta(), b.delta()
        assert da == db
        keys = [e[0] for e in da]
        assert len(keys) == len(set(keys))
    before = run.EtlModel(orders, seed=5)
    events = before.delta()
    ops = {e[0]: e[-1] for e in events}
    assert all(k not in before.rows for k, op in ops.items() if op == "D")
    assert all(before.rows[k] == e[:-1] for e in events if (k := e[0]) and e[-1] != "D")
    n_del = sum(op == "D" for op in ops.values())
    n_ins = sum(op == "I" for op in ops.values())
    assert len(before.rows) == 400 - n_del + n_ins
    assert run.EtlModel(orders, seed=6).delta() != events


def test_pass_order_shuffles_reads_and_keeps_the_etl_cycle():
    reads = run.WORKLOADS["batch_c2"].clients[0]
    orders = [run.Bench._pass_order(reads, random.Random(i)) for i in range(5)]
    assert all(sorted(o) == sorted(reads) for o in orders)
    assert len({tuple(o) for o in orders}) > 1
    assert run.Bench._pass_order(tuple(run.ETL), random.Random(0)) == run.ETL


def test_datagen_is_deterministic_and_sized():
    import datagen

    a, b = datagen.tables(0.001), datagen.tables(0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 6000
    assert datagen.tables(0.001, seed=1)["lineitem"] != a["lineitem"]


def test_read_ops_without_an_oracle_are_refused(tmp_path):
    bench = run.Bench(run.WORKLOADS["interactive_c4"], seed=1, trace=False, rundir=tmp_path)
    bench.queries = {name: None for name in run.OLAP + run.PIPELINE_SERVE}
    with pytest.raises(ValueError, match="without a DuckDB oracle"):
        bench._oracle_hashes({}, verify=None)
