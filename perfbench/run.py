"""The engine benchmark: closed-loop workloads over the engine's public entry
points, with checked outputs.

    python3 perfbench/run.py --workload batch_c2 --seed 1 --seconds 10 --trace 0

Run from the repository root.  Each run generates its tables, computes the
expected answer of every read op with the engine's DuckDB oracle, sets the
engine up (session, catalog, one cold execution of every op), then drives the
workload's clients for whole passes over their mixes until ``--seconds`` have
passed.  The last stdout line is one JSON object; ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (spans recorded around
every call into a layer plus the Spark event log).  Every file a run writes
lives in a temporary directory under the repository root, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import measure  # noqa: E402

# Read-only OLAP mix: aggregate, star join, moving window, TPC-H Q5, a TPC-DS
# rollup and a correlated subquery.  None registers a session-global temp
# view of its own or writes scratch files, so clients may share one session.
OLAP = [
    "q1_pricing_summary", "join_broadcast_star", "window_moving_rows",
    "tpch_q5_local_supplier", "tpcds_q5_channel_rollup", "subquery_corr_scalar",
]
# LLM-data-pipeline op that runs an eager Spark job inside the operator call
# (BM25 corpus statistics are checkpointed before the top-k query is built).
PIPELINE_BATCH = ["search_bm25_topk"]
# Retrieval and scoring ops a serving tier answers per request.
PIPELINE_SERVE = ["knn_topk_cosine", "text_quality_score"]
# One ETL cycle against the transactional table: K=2 commits, each followed
# by a snapshot read, then compaction + vacuum.
ETL = ["acid.commit", "acid.read"] * 2 + ["acid.compact"]


@dataclass(frozen=True)
class Workload:
    sf: float
    clients: tuple[tuple[str, ...], ...]  # one op mix per client thread
    min_passes: int  # timed passes per client, at least

    @property
    def tail_p(self) -> int:
        """The latency tail percentile: the highest that the fewest samples a
        run can take (``min_passes`` over every mix) leave ten beyond."""
        return measure.tail_percentile(self.min_passes * sum(len(m) for m in self.clients))


WORKLOADS = {
    # The larger data, one analyst beside one ETL writer: OLAP scans, joins and
    # aggregates, a pipeline op with eager driver-side work, and the ACID
    # write path + merge-on-read; execution weighs most here.
    "batch_c2": Workload(
        sf=0.01,
        clients=(tuple(OLAP + PIPELINE_BATCH), tuple(ETL)),
        min_passes=3,
    ),
    # Four clients sharing one driver on tiny data: per-query fixed cost (plan
    # building, py4j, Catalyst, scheduling) dominates, so a per-query overhead
    # gain shows here and an execution gain in batch_c2.
    "interactive_c4": Workload(
        sf=0.001,
        clients=(tuple(OLAP + PIPELINE_SERVE),) * 3 + (tuple(ETL),),
        min_passes=2,
    ),
}

ACID_COMMIT_FRACTION = 0.01  # events per commit, as a share of live rows


# -- the expected state of the transactional table --------------------------

class EtlModel:
    """Independent model of the ACID table: the benchmark's own dict of live
    rows, advanced by the same seeded deltas the engine commits."""

    def __init__(self, orders, seed: int):
        cols = orders.column_names
        self.cols = cols
        self.rows = {r[0]: r for r in zip(*(orders.column(c).to_pylist() for c in cols))}
        self.next_key = max(self.rows) + 1
        self.rng = np.random.default_rng([seed, 7])
        self.version = 0

    def delta(self) -> list[tuple]:
        """Next delta: one U, D or I event per key, full row image + _op."""
        live = np.fromiter(self.rows, dtype=np.int64, count=len(self.rows))
        n = max(3, int(len(live) * ACID_COMMIT_FRACTION))
        n_upd, n_del = n // 2, n // 4
        n_ins = n - n_upd - n_del
        picked = self.rng.choice(live, n_upd + n_del, replace=False)
        events = []
        for k in picked[:n_upd].tolist():
            old = self.rows[k]
            new = (k, old[1], str(self.rng.choice(["F", "O", "P"])),
                   round(float(self.rng.uniform(1000, 500000)), 2), old[4], old[5])
            self.rows[k] = new
            events.append(new + ("U",))
        for k in picked[n_upd:].tolist():
            del self.rows[k]
            events.append((k, None, None, None, None, None, "D"))
        order_date = next(iter(self.rows.values()))[4]
        for i in range(n_ins):
            k = self.next_key + i
            new = (k, int(self.rng.integers(0, 1000)), "O",
                   round(float(self.rng.uniform(1000, 500000)), 2), order_date, "3-MEDIUM")
            self.rows[k] = new
            events.append(new + ("I",))
        self.next_key += n_ins
        return events


# -- the run ----------------------------------------------------------------

@dataclass
class Sample:
    name: str
    latency: float
    ok: bool


@dataclass
class ClientResult:
    samples: list[Sample] = field(default_factory=list)
    elapsed: float = 0.0


class Bench:
    def __init__(self, workload: Workload, seed: int, trace: bool, rundir: Path):
        self.wl = workload
        self.seed = seed
        self.trace = trace
        self.rundir = rundir
        self.data_dir = str(rundir / "data")
        self.tracer = measure.Tracer(enabled=trace)
        self.expected: dict[str, str] = {}  # read op -> oracle result hash
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._count_lock = threading.Lock()
        self._op_seq = 0
        self.timed_ops: set[str] = set()
        self.op_meta: dict[str, dict] = {}  # traced: op id -> facts
        self.setup_parts: dict[str, float] = {}
        self.acid_written = {"user": 0, "total": 0}

    # engine set-up ---------------------------------------------------------

    def start(self) -> None:
        self.table_rows = datagen.write(self.wl.sf, self.data_dir)
        with self._setup("import"):
            from hive_apache_ci_spark import verify
            from hive_apache_ci_spark.catalog import load_table, load_tables
            from hive_apache_ci_spark.operators.acid import AcidTable
            from hive_apache_ci_spark.registry import all_oracles, all_queries
            from hive_apache_ci_spark.session import get_spark
            self.queries = all_queries()
        self.canon = verify._canon
        self._oracle_hashes(all_oracles(), verify)

        extra = {
            "spark.sql.warehouse.dir": str(self.rundir / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            extra["spark.eventLog.enabled"] = "true"
            extra["spark.eventLog.dir"] = str(self.rundir / "events")
            extra["spark.eventLog.rolling.enabled"] = "false"
            extra["spark.eventLog.compress"] = "false"
            (self.rundir / "events").mkdir()
        with self._setup("session"), self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", extra_conf=extra)
        with self._setup("catalog"), self.tracer.span("catalog.load_tables"):
            load_tables(self.spark, self.data_dir)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark_version = self.spark.version

        import pyarrow.parquet as pq
        orders = pq.read_table(os.path.join(self.data_dir, "orders.parquet"))
        self.model = EtlModel(orders, self.seed)
        with self._setup("acid.create"), self.tracer.span("acid.create"):
            self.table = AcidTable(str(self.rundir / "acid_orders"), cols=orders.column_names,
                                   key="o_orderkey")
            base = load_table(self.spark, self.data_dir, "orders")
            self.table.create(base)
        self.delta_schema = base.schema.add("_op", "string")

        # one cold execution of every distinct op: reads in a seeded order,
        # then one commit, read and compaction, leaving a compacted table
        reads = sorted({op for mix in self.wl.clients for op in mix if op in self.queries})
        random.Random(f"{self.seed}:cold").shuffle(reads)
        for name in reads + ["acid.commit", "acid.read", "acid.compact"]:
            s = self.run_op(name)
            self.setup_parts[f"cold:{name}"] = s.latency

    @contextmanager
    def _setup(self, part: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.setup_parts[part] = time.perf_counter() - t

    @property
    def setup_s(self) -> float:
        """Engine set-up: imports, session, catalog, table creation and one
        cold execution of every op; the benchmark's own work is excluded."""
        return sum(self.setup_parts.values())

    def _oracle_hashes(self, oracles: dict, verify) -> None:
        names = {op for mix in self.wl.clients for op in mix if op in self.queries}
        if names - set(oracles):
            raise ValueError(f"read ops without a DuckDB oracle: {sorted(names - set(oracles))}")
        con = verify.duck_connect(self.data_dir)
        con.execute(f"SET temp_directory='{self.rundir / 'duckdb'}'")
        try:
            for name in sorted(names):
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                self.expected[name] = measure.result_hash(cols, res.fetchall(), verify._canon)
        finally:
            con.close()

    # one operation ---------------------------------------------------------

    def _next_op_id(self, name: str, timed: bool) -> str:
        with self._count_lock:
            self._op_seq += 1
            op_id = f"op{self._op_seq}:{name}"
            if timed:
                self.timed_ops.add(op_id)
            return op_id

    def run_op(self, name: str, timed: bool = False) -> Sample:
        """Time one op; its result is checked after the clock stops."""
        op_id = self._next_op_id(name, timed)
        if self.trace:
            self.spark.sparkContext.setJobGroup(op_id, name)
        ok, err = False, None
        t0 = time.perf_counter()
        try:
            execute = (self._etl_step if name.startswith("acid.") else self._read_op)(name, op_id)
            t0 = time.perf_counter()
            with self.tracer.span("op", op_id):
                check = execute()
            latency = time.perf_counter() - t0
            ok = check()
        except Exception as exc:  # an op failure is a measured outcome
            latency = time.perf_counter() - t0
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
        with self._count_lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(f"{name}: {err or 'wrong result'}")
        return Sample(name, latency, ok)

    def _read_op(self, name: str, op_id: str):
        fn = self.queries[name]
        layer = "pipeline" if fn.__module__.startswith("hive_apache_ci_spark.pipeline") else "operators"

        def execute():
            with self.tracer.span(f"{layer}.build", op_id):
                df = fn(self.spark, self.data_dir)
            with self.tracer.span("spark.action", op_id):
                rows = df.collect()

            def check() -> bool:
                if self.trace:
                    self.op_meta[op_id] = {"layer": layer, "plan_s": _plan_seconds(df)}
                return measure.result_hash(df.columns, rows, self.canon) == self.expected[name]
            return check
        return execute

    def _etl_step(self, name: str, op_id: str):
        tbl, model = self.table, self.model
        if name == "acid.commit":
            events = model.delta()  # the generated input

            def commit():
                with self.tracer.span("acid.commit_delta", op_id):
                    delta = self.spark.createDataFrame(events, self.delta_schema)
                    version = tbl.commit_delta(delta)
                return lambda: self._committed(version, delta=True)
            return commit
        if name == "acid.read":
            if self.trace:
                m = tbl.manifest()
                dirs = [m["base"]] + [d for _, d in m["deltas"]]
                self.op_meta[op_id] = {
                    "deltas": len(m["deltas"]),
                    "files": sum(_count_files(Path(tbl.root) / d) for d in dirs),
                }

            def read():
                with self.tracer.span("acid.read", op_id):
                    n = tbl.read(self.spark).count()
                return lambda: n == len(model.rows)
            return read

        def compact():
            with self.tracer.span("acid.compact", op_id):
                version = tbl.compact(self.spark)
            with self.tracer.span("acid.vacuum", op_id):
                tbl.vacuum()
            return lambda: self._committed(version, delta=False) and not tbl.manifest()["deltas"]
        return compact

    def _committed(self, version: int, delta: bool) -> bool:
        """Advance the model's version and account the bytes the commit wrote."""
        self.model.version += 1
        m = self.table.manifest(version)
        self._count_written(m["deltas"][-1][1] if delta else m["base"], user=delta)
        return version == self.model.version

    def _count_written(self, dname: str, user: bool) -> None:
        size = _tree_bytes(Path(self.table.root) / dname)
        with self._count_lock:
            self.acid_written["total"] += size
            if user:
                self.acid_written["user"] += size

    # the closed loops ------------------------------------------------------

    @staticmethod
    def _pass_order(mix: tuple[str, ...], rng: random.Random) -> list[str]:
        """A read mix runs in a new seeded order each pass; an ETL cycle keeps
        its order."""
        order = list(mix)
        if mix != tuple(ETL):
            rng.shuffle(order)
        return order

    def drive(self, seconds: float, passes: int) -> list[ClientResult]:
        """Run every client thread for whole passes, at least ``passes`` of
        them and until ``seconds`` have passed."""
        results = [ClientResult() for _ in self.wl.clients]
        barrier = threading.Barrier(len(self.wl.clients))
        errors: list[BaseException] = []

        def client(ci: int) -> None:
            try:
                rng = random.Random(f"{self.seed}:timed:{ci}")
                mix = self.wl.clients[ci]
                barrier.wait()
                t0 = time.perf_counter()
                done = 0
                while True:
                    for name in self._pass_order(mix, rng):
                        results[ci].samples.append(self.run_op(name, timed=True))
                    done += 1
                    results[ci].elapsed = time.perf_counter() - t0
                    if done >= passes and results[ci].elapsed >= seconds:
                        break
            except BaseException as exc:  # surfaced after join
                errors.append(exc)

        threads = [threading.Thread(target=client, args=(i,), daemon=True)
                   for i in range(len(self.wl.clients))]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        if errors:
            raise errors[0]
        return results

    # reporting -------------------------------------------------------------

    def finish_acid(self) -> dict:
        """Full-state check of the table plus its storage overhead."""
        rows = self.table.read(self.spark).collect()
        got = measure.result_hash(self.model.cols, rows, self.canon)
        want = measure.result_hash(self.model.cols, list(self.model.rows.values()), self.canon)
        self.attempted += 1
        if got != want:
            self.failed += 1
            self.failures.append("acid final state: wrong result")
        plain = self.rundir / "acid_plain"
        self.table.read(self.spark).write.parquet(str(plain))
        stored = _tree_bytes(Path(self.table.root))
        return {"stored_bytes_per_live_byte": stored / _tree_bytes(plain)}


def _plan_seconds(df) -> float:
    """Analysis + optimisation + planning time of the DataFrame's query, from
    Catalyst's own planning tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        if p.isDefined():
            total += p.get().durationMs() / 1000.0
    return total


def _tree_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _count_files(path: Path) -> int:
    return sum(1 for f in path.glob("*.parquet"))


def _latency_stats(samples: list[Sample], p: int | None) -> dict:
    lat = [s.latency for s in samples if s.ok]
    return {
        "p50": measure.percentile(lat, 50),
        "tail": measure.percentile(lat, p) if p else max(lat),
        "tail_percentile": p if p else 100,
        "samples": len(lat),
        "mean": statistics.fmean(lat),
    }


def end_to_end(bench: Bench, results: list[ClientResult], peak_kb: int) -> dict:
    """Latency over successful ops only; failed ops count in ``failed``."""
    samples = [s for r in results for s in r.samples]
    lat = _latency_stats(samples, bench.wl.tail_p)
    qps = sum(sum(s.ok for s in r.samples) / r.elapsed for r in results)
    return {
        "metrics": {
            "setup_s": (bench.setup_s, "s"),
            "qps": (qps, "1/s"),
            "latency_p50_s": (lat["p50"], "s"),
            "latency_tail_s": (lat["tail"], "s"),
        },
        "peak_rss_mb": peak_kb / 1024.0,
        "latency": lat,
        "by_kind": {
            kind: _latency_stats(
                [s for s in samples if s.name == kind],
                measure.tail_percentile(sum(s.name == kind for s in samples)))
            for kind in ("acid.commit", "acid.read")
            if any(s.name == kind for s in samples)
        },
    }


def per_layer(bench: Bench, e2e: dict) -> dict:
    """Per-op means over the timed window, from the spans and the event log."""
    spans = bench.tracer.spans
    op_spans = [s for s in spans if s.name == "op" and s.op in bench.timed_ops]
    by_op: dict[str, list[measure.Span]] = {}
    for s in spans:
        if s.op in bench.timed_ops:
            by_op.setdefault(s.op, []).append(s)
    event_lines = []
    for f in sorted((bench.rundir / "events").iterdir()):
        event_lines.extend(f.read_text().splitlines())
    groups, skews = measure.parse_event_log(event_lines)

    def mean_span(name: str, layer: str | None = None) -> float:
        vals = [
            sum(s.end - s.start for s in ss if s.name == name)
            for op, ss in by_op.items()
            if any(s.name == name for s in ss)
            and (layer is None or bench.op_meta.get(op, {}).get("layer") == layer)
        ]
        return statistics.fmean(vals) if vals else 0.0

    def mean_meta(key: str) -> float:
        vals = [m[key] for op, m in bench.op_meta.items() if op in bench.timed_ops and key in m]
        return statistics.fmean(vals) if vals else 0.0

    n_ops = len(op_spans)
    g = [groups.get(s.op, measure.GroupStats()) for s in op_spans]
    driver_only = [
        (s.end - s.start) - measure.covered_within((s.start, s.end), gs.task_intervals)
        for s, gs in zip(op_spans, g)
    ]
    pipe_jobs = [gs.jobs for s, gs in zip(op_spans, g)
                 if bench.op_meta.get(s.op, {}).get("layer") == "pipeline"]
    selfs = measure.self_times([s for s in spans if s.op in bench.timed_ops])
    setup_span = {s.name: s.end - s.start for s in spans if s.op is None}

    def per_op(attr: str) -> float:
        return sum(getattr(gs, attr) for gs in g) / n_ops

    written = bench.acid_written
    m = {
        "session.get_spark_s": (setup_span["session.get_spark"], "s"),
        "catalog.load_tables_s": (setup_span["catalog.load_tables"], "s"),
        "operators.build_s": (mean_span("operators.build", "operators"), "s"),
        "pipeline.build_s": (mean_span("pipeline.build", "pipeline"), "s"),
        "pipeline.jobs_per_op": (statistics.fmean(pipe_jobs) if pipe_jobs else 0.0, "count"),
        "spark.plan_s": (mean_meta("plan_s"), "s"),
        "spark.driver_only_s": (statistics.fmean(driver_only), "s"),
        "spark.job_wait_s": (per_op("job_wait_s"), "s"),
        "spark.jobs": (per_op("jobs"), "count"),
        "spark.stages": (sum(len(gs.stages) for gs in g) / n_ops, "count"),
        "spark.tasks": (per_op("tasks"), "count"),
        "spark.executor_run_s": (per_op("executor_run_s"), "s"),
        "spark.executor_cpu_s": (per_op("executor_cpu_s"), "s"),
        "spark.gc_s": (per_op("gc_s"), "s"),
        "spark.input_bytes": (per_op("input_bytes"), "bytes"),
        "spark.shuffle_read_bytes": (per_op("shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (per_op("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (per_op("spill_bytes"), "bytes"),
        "spark.task_skew": (statistics.fmean(skews) if skews else 1.0, "ratio"),
        "acid.commit_delta_s": (mean_span("acid.commit_delta"), "s"),
        "acid.read_s": (mean_span("acid.read"), "s"),
        "acid.compact_s": (mean_span("acid.compact"), "s"),
        "acid.vacuum_s": (mean_span("acid.vacuum"), "s"),
        "acid.deltas_per_read": (mean_meta("deltas"), "count"),
        "acid.files_per_read": (mean_meta("files"), "count"),
        "acid.bytes_written_per_user_byte": (
            written["total"] / written["user"] if written["user"] else 0.0, "ratio"),
        "bench.op_self_s": (selfs.get("op", 0.0) / n_ops, "s"),
        "memory.peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
        "trace.qps": (e2e["metrics"]["qps"][0], "1/s"),
        "trace.latency_p50_s": (e2e["metrics"]["latency_p50_s"][0], "s"),
    }
    return m


def _machine() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": os.cpu_count(), "mem_total_mb": mem_kb // 1024}


def run(args, rundir: Path) -> tuple[dict, dict]:
    wl = WORKLOADS[args.workload]
    bench = Bench(wl, args.seed, bool(args.trace), rundir)
    ticks0 = measure.cpu_ticks()
    with measure.RssSampler() as rss:
        try:
            bench.start()
            results = bench.drive(args.seconds, wl.min_passes)
            acid = bench.finish_acid()
        finally:
            _stop_spark()
    e2e = end_to_end(bench, results, rss.peak_kb)
    ticks1 = measure.cpu_ticks()
    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "sf": wl.sf, "table_rows": bench.table_rows, "clients": len(wl.clients),
        "mixes": [list(m) for m in wl.clients], "min_passes": wl.min_passes,
        "latency": e2e["latency"],
        "peak_rss_mb": e2e["peak_rss_mb"],
        "setup_parts": bench.setup_parts, "by_kind": e2e["by_kind"],
        "error_rate": bench.failed / bench.attempted,
        "acid": acid, "failures": bench.failures[:5],
        "rss_mb_at_peak": {k: v // 1024 for k, v in rss.at_peak.items()},
        "machine": _machine(),
        "cpu_steal_share": (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
        "spark": bench.spark_version,
    }
    for kind, stats in e2e["by_kind"].items():
        short = kind.split(".")[1]
        details[f"{short}_p50_s"] = stats["p50"]
        details[f"{short}_tail_s"] = stats["tail"]
    if args.trace:
        metrics = per_layer(bench, e2e)
        timed_spans = [s for s in bench.tracer.spans if s.op in bench.timed_ops]
        details["span_self_s"] = measure.self_times(timed_spans)
    else:
        metrics = e2e["metrics"]
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return details, result


def _stop_spark() -> None:
    """Stop the session (flushing the event log), then the Spark JVM, which
    exits when its stdin closes; wait until it has."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "hive_apache_ci_spark" / "__init__.py").is_file():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rundir = Path(tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT))
    for sub in ("tmp", "local", "duckdb"):
        (rundir / sub).mkdir()
    os.environ["TMPDIR"] = str(rundir / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(rundir / "local")
    # every JVM of the run (the launcher and the driver) keeps its files here
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={rundir / 'tmp'} -Dderby.system.home={rundir}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    sys.path.insert(0, str(ROOT))
    try:
        details, result = run(args, rundir)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
