"""Benchmark for the survey-ETL engine: one closed-loop client, one process.

Usage, from the repository root:

    python3 perfbench/run.py --workload survey_etl --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

* ``survey_etl``      -- the Airflow endpoint chain through ``api.*`` over
                         two seeded FlatConnect versions >1,000 columns wide;
* ``iterative_dedup`` -- five loop-heavy ``__spark_entry__`` queries on
                         seeded sf0.1-shaped tables, each forced by a noop write.

The session is ``session.build_session`` on ``local[<cores>]`` with bench.py's
shuffle-partition posture.  Inputs are generated from ``--seed`` inside the
checkout.  Set-up (input generation, session, warm-up) is timed on its own;
then whole passes run until ``--seconds`` have elapsed (at least one).  Outputs
are checked outside the timed region and a failed or wrong op is counted, not
fatal.  ``--trace 1`` is a separate run that records spans around the calls
into each layer, Spark counts from the event log, Catalyst phase times and
codec decode rates.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer metrics
traced).  The line before it is the full record of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402

WORKLOADS = ("survey_etl", "iterative_dedup")
#: Input generation is repeated and its median kept, so set-up time is
#: steady enough to show work moved into it.
GEN_REPS = 3
#: Driver heap for the benchmark session (the host's memory is shared).  It
#: is fixed and pre-touched: left to grow, G1's heap sizing swings the
#: process RSS by ~20% from run to run, which hid any real change in
#: `peak_rss_mb`; fixed, that metric moves with memory outside the Java heap
#: (JVM native, the driver's Python, the Python workers) and heap use shows
#: as `jvm.heap_peak_mb` in the traced run.  At 2 GiB the query stages
#: peaked within 10% of the cap and clean_rows' wall doubled on some runs.
DRIVER_MEMORY = "4g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- process-tree memory ------------------------------------------------------

def _descendants(root: int) -> dict[int, str]:
    """Every descendant of ``root`` with its process state letter."""
    children: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(int(ppid), []).append((int(d), state))
    found: dict[int, str] = {}
    todo = [root]
    while todo:
        for pid, state in children.get(todo.pop(), []):
            found[pid] = state
            todo.append(pid)
    return found


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size summed over ``root`` and its descendants.

    PSS splits each shared page among the processes mapping it, so the sum is
    the tree's footprint; summed RSS would count a forked child's pages twice
    (the JVM forks helpers while writing files, and for that moment the child
    reports the whole parent heap)."""
    total = 0
    for pid in [root, *_descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak memory of this process and every descendant (JVM, Python workers).

    One sample walks the page tables of the whole JVM (~60 ms of CPU at a
    4 GiB heap, holding its mmap lock), so it is taken only once a second."""

    def __init__(self, period: float = 1.0) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._period = period
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -- op bookkeeping -----------------------------------------------------------

class Ops:
    """Latency and outcome of every timed op."""

    def __init__(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.records: list[dict] = []
        self.pass_no = 0

    def run(self, name: str, fn):
        """Time ``fn(rec)``; an exception is recorded against the op, not raised."""
        op_id = f"p{self.pass_no}:{name}"
        rec = {"op": op_id, "name": name, "error": None}
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(op_id, name)
            self.tracer.op = op_id
            self.tracer.frames = []
        t0 = time.perf_counter()
        try:
            with layer_span(self.tracer, "op", name):
                fn(rec)
        except Exception as exc:  # noqa: BLE001 — one failed op must not end the run
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
            print(f"perfbench: {op_id} failed: {rec['error']}", file=sys.stderr)
        rec["s"] = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.op = None
            self.spark.sparkContext.setJobGroup("bench-idle", "between ops")
            if rec["error"] is None:
                rec["catalyst_ms"] = tracing.catalyst_ms(self.tracer.frames)
            self.tracer.frames = []
        self.records.append(rec)

    def charge(self, name: str, problem: str) -> None:
        """Count every run of op ``name`` that has not failed otherwise as
        failed: it produced a wrong result."""
        for rec in self.records:
            if rec["name"] == name and rec["error"] is None:
                rec["error"] = f"wrong result: {problem}"


def layer_span(tracer, layer: str, name: str):
    return nullcontext() if tracer is None else tracer.span(layer, name)


def tail_percentile(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return {"value": None, "percentile": None, "samples": n}
    k = n - 11  # index with exactly ten samples above it
    return {"value": xs[k], "percentile": round(100.0 * (k + 1) / n, 1), "samples": n}


# -- workloads ----------------------------------------------------------------

def _warm_call(name: str, fn) -> None:
    """A warm-up call that fails is reported; the timed op will count it."""
    try:
        fn()
    except Exception as exc:  # noqa: BLE001
        print(f"perfbench: warm-up {name} failed: {type(exc).__name__}: {exc}"[:400], file=sys.stderr)


class SurveyEtl:
    """Endpoint chain over two wide FlatConnect versions (see survey.py)."""

    def __init__(self, repo: str, work: str, seed: int, tracer) -> None:
        import survey
        from pr2_transformation_spark import api, config

        self.survey, self.api, self.config = survey, api, config
        self.seed, self.work = seed, work
        self.root = os.path.join(work, "lake")
        self.audit_dir = os.path.join(work, "audit")

    def generate(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        self.truth = self.survey.generate(
            self.seed, self.root, self.config.SENSITIVE_TIER_COLUMNS, self.config.load_false_array_reference()
        )

    def inputs_ready(self) -> None:
        pass

    def attach(self, spark) -> None:
        from pr2_transformation_spark.sources.catalog import Catalog

        self.spark = spark
        self.catalog = Catalog(spark, self.root)

    def warm_up(self) -> None:
        """One chain over a narrow, short version of the same layout: warms
        the JVM without paying for a full-width pass."""
        from pr2_transformation_spark.sources.catalog import Catalog

        root = os.path.join(self.work, "warm")
        self.survey.generate(
            self.seed + 7919, root, self.config.SENSITIVE_TIER_COLUMNS,
            self.config.load_false_array_reference(), n_rows=16, width=120,
        )
        self.survey.run_pass(self.api, Catalog(self.spark, root), os.path.join(self.work, "warm-audit"), _warm_call)
        shutil.rmtree(root, ignore_errors=True)

    def one_pass(self, ops: Ops) -> None:
        self.survey.run_pass(self.api, self.catalog, self.audit_dir, lambda name, fn: ops.run(name, lambda rec: fn()))

    def check(self, ops: Ops) -> list[str]:
        found = self.survey.check(
            self.root, self.truth, self.config.SENSITIVE_TIER_COLUMNS, {self.config.YES_CID, self.config.NO_CID}
        )
        for owner, problem in found:
            ops.charge(owner, problem)
        return [p for _, p in found]

    def extra_metrics(self, ops: Ops) -> dict:
        def per_pass(names):
            sums: dict[int, float] = {}
            for r in ops.records:
                if r["name"] in names:
                    p = int(r["op"][1:].split(":")[0])
                    sums[p] = sums.get(p, 0.0) + r["s"]
            return statistics.median(sums.values()) if sums else None

        flat = sum(os.path.getsize(p) for p in self.truth["tables"].values())
        clean = tracing.dir_bytes(self.survey.table_path(self.root, "CleanConnect", f"{self.survey.MODULE}_JP"))
        return {
            "clean_columns_s": (per_pass({"clean_columns_v1", "clean_columns_v2"}), "s"),
            "merge_versions_s": (per_pass({"merge_versions"}), "s"),
            "clean_rows_s": (per_pass({"clean_rows"}), "s"),
            "sensitive_tier_s": (per_pass({"sensitive_tier"}), "s"),
            "stored_bytes_ratio": (clean / flat, "bytes/bytes"),
        }


class IterativeDedup:
    """Loop-heavy queries, each forced by a noop write (see queries.py)."""

    def __init__(self, repo: str, work: str, seed: int, tracer) -> None:
        import queries

        import __spark_entry__ as entry

        self.q, self.repo, self.seed, self.tracer = queries, repo, seed, tracer
        self.fns = entry.queries()
        self.data_dir = os.path.join(work, "sf")
        self.oracle_out = self.data_dir + ".oracle.pickle"

    def generate(self) -> None:
        import tables

        shutil.rmtree(self.data_dir, ignore_errors=True)
        tables.generate(self.seed, self.data_dir, self.q.TABLES)

    def inputs_ready(self) -> None:
        """Start the DuckDB oracles in a child process; they run while the
        session starts and the warm-up pass collects."""
        self.child = subprocess.Popen([sys.executable, os.path.join(HERE, "queries.py"),
                                       self.repo, self.data_dir, self.oracle_out, *self.q.QUERIES])

    def attach(self, spark) -> None:
        self.spark = spark

    def warm_up(self) -> None:
        """Collect every query once (this is also the result the oracle
        check compares), then wait for the oracle child."""
        import pickle

        self.results: dict = {}
        child = self.child
        try:
            for name in self.q.QUERIES:
                try:
                    df = self.fns[name](self.spark, self.data_dir)
                    self.results[name] = self.q.normalized(df.columns, df.collect())
                except Exception as exc:  # noqa: BLE001 — charged to the op at check time
                    self.results[name] = f"{type(exc).__name__}: {exc}"[:300]
            code = child.wait()
        finally:
            if child.poll() is None:
                child.kill()
                child.wait()
        if code != 0:
            raise RuntimeError(f"oracle process exited with {code}")
        with open(self.oracle_out, "rb") as fh:
            self.oracle = pickle.load(fh)

    def one_pass(self, ops: Ops) -> None:
        for name in self.q.QUERIES:
            ops.run(name, lambda rec, name=name: self._op(name, rec))

    def _op(self, name: str, rec: dict) -> None:
        t0 = time.perf_counter()
        with layer_span(self.tracer, "query.build", name):
            df = self.fns[name](self.spark, self.data_dir)
        t1 = time.perf_counter()
        if self.tracer is not None:
            self.tracer.frames.append(df)
        with layer_span(self.tracer, "query.action", name):
            df.write.mode("overwrite").format("noop").save()
        rec["build_s"], rec["action_s"] = t1 - t0, time.perf_counter() - t1

    def check(self, ops: Ops) -> list[str]:
        problems = []
        for name in self.q.QUERIES:
            got = self.results.get(name)
            why = f"spark error: {got}" if isinstance(got, str) else self.q.compare(got, self.oracle.get(name, "missing"))
            if why:
                problems.append(f"{name}: {why}")
                ops.charge(name, why)
        return problems

    def extra_metrics(self, ops: Ops) -> dict:
        tail = tail_percentile([r["s"] for r in ops.records])
        return {
            "op_tail_s": (tail["value"], "s"),
            "op_tail_percentile": (tail["percentile"], "percentile"),
            "op_tail_samples": (tail["samples"], "count"),
        }


# -- run ----------------------------------------------------------------------

def run(args, repo: str, work: str) -> int:
    tracer = layer = None
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        tracer = tracing.Tracer()
        tracing.install(tracer)  # before __spark_entry__ / pipeline are imported

    from pr2_transformation_spark.session import build_session

    cores = os.cpu_count() or 1
    overrides = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(event_dir)
        overrides.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logStageExecutorMetrics": "true",
            # without polling, a stage shorter than one heartbeat logs no heap peak
            "spark.executor.metrics.pollingInterval": "100ms",
        })
    cls = {"survey_etl": SurveyEtl, "iterative_dedup": IterativeDedup}[args.workload]
    workload = cls(repo, work, args.seed, tracer)
    gen_s = []
    for _ in range(GEN_REPS):
        t = time.perf_counter()
        workload.generate()
        gen_s.append(time.perf_counter() - t)
    workload.inputs_ready()
    t0 = time.perf_counter()
    spark = build_session(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=max(cores, 8),
        driver_memory=DRIVER_MEMORY, **overrides,
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        workload.attach(spark)
        if tracer is not None:
            spark.sparkContext.setJobGroup("bench-setup", "warm-up")
        t = time.perf_counter()
        workload.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_s) + warm_s

        ops = Ops(spark, tracer)
        pass_walls = []
        with RssSampler() as rss:
            start = time.perf_counter()
            while not pass_walls or time.perf_counter() - start < args.seconds:
                t = time.perf_counter()
                workload.one_pass(ops)
                pass_walls.append(time.perf_counter() - t)
                ops.pass_no += 1
        problems = workload.check(ops)
        codecs = tracing.codec_rates(args.seed) if tracer else None
    finally:
        stop_session(spark)
    if tracer is not None:
        layer = finish_trace(args, tracer, ops, codecs, event_dir, cores, pass_walls, repo)

    attempted = len(ops.records)
    failed = sum(1 for r in ops.records if r["error"])
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(pass_walls), "s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
        "ops_ok_frac": ((attempted - failed) / attempted, "frac"),
        "op_p50_s": (statistics.median(r["s"] for r in ops.records), "s"),
    }
    extra = workload.extra_metrics(ops)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": cores,
        "passes": len(pass_walls), "pass_walls_s": pass_walls,
        "setup": {"session_s": session_s, "generate_s": gen_s, "warm_up_s": warm_s},
        "ops_failed_frac": failed / attempted,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **extra}.items()},
        "problems": problems,
        "ops": [{k: r[k] for k in ("op", "s", "build_s", "action_s", "error") if r.get(k) is not None}
                for r in ops.records],
    }
    if layer is not None:
        record["layers"] = layer
    print(json.dumps(record, default=str))
    metrics = layer["metrics"] if layer is not None else {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def become_subreaper() -> None:
    """Have orphaned descendants (a Python worker daemon that outlives the
    JVM, say) re-parented to this process rather than to init, so that
    ``reap_descendants`` still finds them."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def reap_descendants(grace: float = 10.0, limit: float = 60.0) -> None:
    """Terminate every process still descended from this one and wait until
    each has ended: SIGTERM first, SIGKILL once ``grace`` seconds pass."""
    me = os.getpid()
    start = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = _descendants(me)
        if not left or time.monotonic() - start > limit:
            if left:
                print(f"perfbench: processes still running: {sorted(left)}", file=sys.stderr)
            return
        sig = signal.SIGTERM if time.monotonic() - start < grace else signal.SIGKILL
        for pid, state in left.items():
            if state != "Z":
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def finish_trace(args, tracer, ops, codecs, event_dir, cores, pass_walls, repo) -> dict:
    """Per-layer metrics from the spans and the (now closed) event log."""
    spans = [s for s in tracer.spans if s["op"] is not None]
    for p in range(len(pass_walls)):
        seen = {s["layer"] for s in spans if s["op"].startswith(f"p{p}:")}
        missing = tracing.EXPECTED_LAYERS[args.workload] - seen
        if missing:
            raise RuntimeError(f"traced pass {p} recorded no span for {sorted(missing)}: a wrapper was bypassed")
    log = tracing.read_event_log(event_dir)
    op_groups = {r["op"] for r in ops.records}
    op_jobs = {j: v for j, v in log["jobs"].items() if v["group"] in op_groups}
    g = {k: sum(log["groups"][grp].get(k, 0.0) for grp in op_groups)
         for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read",
                   "shuffle_write", "spill", "files_read", "bytes_read")}
    op_spans = [s for s in spans if s["layer"] == "op"]
    outside = 0.0
    covered = 0.0
    for s in op_spans:
        jobs = [(max(j["submit"], s["start"]), min(j["end"] or s["end"], s["end"]))
                for j in op_jobs.values() if j["group"] == s["op"]]
        outside += (s["end"] - s["start"]) - tracing.union_length([iv for iv in jobs if iv[1] > iv[0]])
        inner = [(c["start"], c["end"]) for c in spans if c["op"] == s["op"] and c["layer"] != "op"]
        covered += tracing.union_length(inner)
    wall = sum(s["end"] - s["start"] for s in op_spans)
    totals = tracing.layer_totals(spans)
    selfs = tracing.self_times(spans)

    def t(layer, key="s"):
        return totals.get(layer, {}).get(key, 0)

    cat = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for r in ops.records:
        for k, v in r.get("catalyst_ms", {}).items():
            cat[k] += v
    job_ms = [(j["end"] - j["submit"]) * 1000 for j in op_jobs.values() if j["end"]]
    reads = [s for s in spans if s["layer"] == "catalog" and s["name"] == "read"]
    writes = [s for s in spans if s["layer"] == "catalog" and s["name"] == "write"]
    m = {
        "compose.s": (t("compose"), "s"),
        "compose.clauses": (t("compose", "count"), "count"),
        "profiling.s": (t("profiling"), "s"),
        "profiling.jobs": (tracing.jobs_within(op_jobs, spans, "profiling"), "count"),
        "profiling.cols_per_s": (t("profiling", "count") / t("profiling") if t("profiling") else 0.0, "1/s"),
        "catalog.read_s": (tracing.union_length([(s["start"], s["end"]) for s in reads]), "s"),
        "catalog.write_s": (tracing.union_length([(s["start"], s["end"]) for s in writes]), "s"),
        "catalog.bytes_written": (sum(s["count"] for s in writes), "bytes"),
        "audit.s": (t("audit"), "s"),
        "audit.bytes": (t("audit", "count"), "bytes"),
        "catalyst.analysis_ms": (cat["analysis"], "ms"),
        "catalyst.optimization_ms": (cat["optimization"], "ms"),
        "catalyst.planning_ms": (cat["planning"], "ms"),
        "driver.outside_jobs_s": (outside, "s"),
        "spark.jobs": (g["jobs"], "count"),
        "spark.stages": (g["stages"], "count"),
        "spark.tasks": (g["tasks"], "count"),
        "spark.ms_per_job": (statistics.mean(job_ms) if job_ms else 0.0, "ms"),
        "query.build_s": (t("query.build"), "s"),
        "query.action_s": (t("query.action"), "s"),
        "executor.run_s": (g["run_ms"] / 1000, "s"),
        "executor.cpu_s": (g["cpu_ns"] / 1e9, "s"),
        "executor.gc_s": (g["gc_ms"] / 1000, "s"),
        "executor.busy_frac": (g["run_ms"] / 1000 / (wall * cores) if wall else 0.0, "frac"),
        "shuffle.read_bytes": (g["shuffle_read"], "bytes"),
        "shuffle.write_bytes": (g["shuffle_write"], "bytes"),
        "spill.bytes": (g["spill"], "bytes"),
        "jvm.heap_peak_mb": (max(log["groups"][grp].get("heap_peak", 0.0) for grp in op_groups) / 2**20, "MB"),
        "graph.s": (t("graph"), "s"),
        "graph.jobs": (tracing.jobs_within(op_jobs, spans, "graph"), "count"),
        "checkpoint.s": (t("checkpoint"), "s"),
        "checkpoint.calls": (t("checkpoint", "spans"), "count"),
        "dedup.s": (t("dedup"), "s"),
        "pipeline.s": (t("pipeline"), "s"),
        "scan.files_read": (g["files_read"], "count"),
        "scan.bytes_read": (g["bytes_read"], "bytes"),
        "trace.wall_s": (statistics.median(pass_walls), "s"),
        "trace.coverage_frac": (covered / wall if wall else 0.0, "frac"),
        "op.self_s": (selfs.get("op", 0.0), "s"),
    }
    for k, v in codecs.items():
        m[k] = (v, "MB/s" if k.endswith("mb_s") else "ratio")
    out_dir = os.path.join(repo, ".bench_work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
        json.dump({"spans": tracer.spans, "ops": ops.records}, fh, default=str)
    return {
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
        "self_s": dict(selfs),
        "span_counts": {k: v["spans"] for k, v in totals.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    repo = os.getcwd()
    if not (os.path.isdir(os.path.join(repo, "pr2_transformation_spark"))
            and os.path.isfile(os.path.join(repo, "__spark_entry__.py"))):
        print("perfbench: run from the repository root; program sources not found", file=sys.stderr)
        return 2
    work = os.path.join(repo, ".bench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Python workers import the package whatever the working directory;
    # temp files (lake queries' mkdtemp, JVM scratch) stay in the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    sys.path[:0] = [repo, os.path.join(repo, "scripts")]
    become_subreaper()
    try:
        return run(args, repo, work)
    finally:
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
