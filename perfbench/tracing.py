"""Traced-run plumbing: spans around the calls into each layer, Spark
counts from the event log, Catalyst phase times, and codec decode rates.

Spans are recorded from the benchmark's own files by wrapping the
program's public functions; nothing inside the program changes.  The
wrappers must be installed before ``__spark_entry__`` and ``pipeline`` are
imported, because both bind functions by name at import time; a final sweep
over the loaded ``pr2_transformation_spark`` modules rebinds any name that
still points at an unwrapped original.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "pr2_transformation_spark"

#: (module, names or None for every public function, layer)
TARGETS = [
    (f"{PKG}.operators.clean_columns", ["compose_clean_columns"], "compose"),
    (f"{PKG}.operators.clean_rows", ["compose_clean_rows"], "compose"),
    (f"{PKG}.operators.merge", ["compose_merge"], "compose"),
    (f"{PKG}.operators.sensitive", ["compose_sensitive_tier"], "compose"),
    (
        f"{PKG}.profiling",
        ["binary_columns", "profile_columns", "strict_false_array_columns", "false_array_columns_from_reference"],
        "profiling",
    ),
    (f"{PKG}.plans.audit", ["save_sql_string"], "audit"),
    (f"{PKG}.checkpointing", ["checkpoint_frame"], "checkpoint"),
    (f"{PKG}.operators.graph", None, "graph"),
    (f"{PKG}.functions.dedup", None, "dedup"),
    (f"{PKG}.pipeline", ["prepare_training_corpus"], "pipeline"),
]
#: Layers each workload must exercise: a traced pass that records no span
#: for one of them means a wrapper was bypassed, and the run fails.
EXPECTED_LAYERS = {
    "survey_etl": {"op", "compose", "profiling", "catalog", "audit"},
    "iterative_dedup": {"op", "query.build", "query.action", "graph", "checkpoint", "dedup", "pipeline"},
}


class Tracer:
    """In-memory span store; spans of one op share its ``op`` id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.frames: list = []

    @contextmanager
    def span(self, layer: str, name: str):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "layer": layer,
            "name": name,
            "op": self.op,
            "start": time.time(),
            "end": None,
            "count": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, fn, layer: str, counter=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__qualname__) as rec:
                out = fn(*args, **kwargs)
                if counter is not None:
                    rec["count"] = counter(args, kwargs, out)
                return out

        return traced


def _clauses(args, kwargs, out) -> int:
    return len(out[1] if isinstance(out, tuple) else out)


def _profiled_columns(args, kwargs, out) -> int:
    """Columns a detector scanned; the name-only detector scans none."""
    first = args[0] if args else kwargs.get("df")
    return 0 if first is None or isinstance(first, list) else len(first.columns)


def install(tracer: Tracer) -> None:
    """Wrap every target function and the Catalog read/write methods."""
    originals: dict[int, object] = {}
    for mod_name, names, layer in TARGETS:
        mod = importlib.import_module(mod_name)
        if names is None:
            names = [
                n for n, v in vars(mod).items()
                if inspect.isfunction(v) and v.__module__ == mod_name and not n.startswith("_")
            ]
        counter = {"compose": _clauses, "profiling": _profiled_columns}.get(layer)
        if layer == "audit":
            counter = lambda a, k, out: len((a[0] if a else k["sql"]).encode())  # noqa: E731
        for n in names:
            fn = getattr(mod, n)
            wrapped = tracer.wrap(fn, layer, counter)
            originals[id(fn)] = wrapped
            setattr(mod, n, wrapped)

    from pr2_transformation_spark.sources import catalog as catalog_mod

    cls = catalog_mod.Catalog
    read, write = cls.read, cls.write

    def traced_read(self, fq_table):
        with tracer.span("catalog", "read"):
            return read(self, fq_table)

    def traced_write(self, df, fq_table, *args, **kwargs):
        tracer.frames.append(df)
        with tracer.span("catalog", "write") as rec:
            path = write(self, df, fq_table, *args, **kwargs)
            rec["count"] = dir_bytes(path)
            return path

    cls.read, cls.write = traced_read, traced_write

    # rebind names other modules imported with `from x import f`
    for mod in list(sys.modules.values()):
        if mod is None or not getattr(mod, "__name__", "").startswith((PKG, "__spark_entry__")):
            continue
        for n, v in list(vars(mod).items()):
            w = originals.get(id(v))
            if w is not None and w is not v:
                setattr(mod, n, w)


def dir_bytes(path: str) -> int:
    """Bytes of data files under a table path (0 for a catalog table name)."""
    if not isinstance(path, str) or not os.path.exists(path):
        return 0
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
        if not f.startswith((".", "_"))
    )


def catalyst_ms(frames) -> dict[str, float]:
    """Analysis / optimization / planning time of each frame's
    QueryExecution, from its tracker.  Planning is forced here if the op
    itself ran the plan through a separate write command."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for df in frames:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in out:
            opt = phases.get(phase)
            if opt.isDefined():
                out[phase] += float(opt.get().durationMs())
    return out


# -- event log --------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def read_event_log(log_dir: str) -> dict:
    """Per-job-group Spark counts from an uncompressed, non-rolling log."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    exec_group: dict[int, str | None] = {}
    acc_name: dict[int, str] = {}
    driver_acc: list[tuple[int, int, int]] = []
    groups: dict = defaultdict(lambda: defaultdict(float))

    def plan_metrics(node):
        for m in node.get("metrics", []):
            acc_name[m["accumulatorId"]] = m["name"]
        for child in node.get("children", []):
            plan_metrics(child)

    with open(files[0]) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                jobs[e["Job ID"]] = {"group": group, "submit": e["Submission Time"] / 1000.0, "end": None}
                for s in e["Stage IDs"]:
                    stage_group[s] = group
                if "spark.sql.execution.id" in props:
                    exec_group[int(props["spark.sql.execution.id"])] = group
                groups[group]["jobs"] += 1
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerStageCompleted":
                groups[stage_group.get(e["Stage Info"]["Stage ID"])]["stages"] += 1
            elif ev == "SparkListenerTaskEnd":
                g = groups[stage_group.get(e["Stage ID"])]
                m = e.get("Task Metrics") or {}
                g["tasks"] += 1
                g["run_ms"] += m.get("Executor Run Time", 0)
                g["cpu_ns"] += m.get("Executor CPU Time", 0)
                g["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            elif ev in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                plan_metrics(e["sparkPlanInfo"])
            elif ev == "SparkListenerStageExecutorMetrics":
                g = groups[stage_group.get(e["Stage ID"])]
                g["heap_peak"] = max(g["heap_peak"], (e.get("Executor Metrics") or {}).get("JVMHeapMemory", 0))
            elif ev == _SQL + "SparkListenerDriverAccumUpdates":
                # posted when a scan lists its files, before the execution's
                # first job names its group, so resolved after the loop
                driver_acc.extend((e["executionId"], a, v) for a, v in e["accumUpdates"])
    scan_keys = {"number of files read": "files_read", "size of files read": "bytes_read"}
    for exec_id, acc_id, value in driver_acc:
        key = scan_keys.get(acc_name.get(acc_id))
        if key:
            groups[exec_group.get(exec_id)][key] += value
    return {"jobs": jobs, "groups": groups}


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: span duration minus what its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["layer"]] += (s["end"] - s["start"]) - union_length(children[s["id"]])
    return out


def layer_totals(spans: list[dict]) -> dict[str, dict]:
    """Per-layer time (union of its spans, so nesting counts once),
    span count and summed counters."""
    by_layer = defaultdict(list)
    layer_of = {s["id"]: s["layer"] for s in spans}
    for s in spans:
        by_layer[s["layer"]].append(s)
    return {
        layer: {
            "s": union_length([(s["start"], s["end"]) for s in ss]),
            "spans": len(ss),
            "count": sum(s["count"] for s in ss if layer_of.get(s["parent"]) != layer),
        }
        for layer, ss in by_layer.items()
    }


def jobs_within(jobs: dict, spans: list[dict], layer: str) -> int:
    intervals = [(s["start"], s["end"]) for s in spans if s["layer"] == layer]
    return sum(1 for j in jobs.values() if any(a <= j["submit"] <= b for a, b in intervals))


# -- codecs -----------------------------------------------------------------

def codec_rates(seed: int, size: int = 1 << 16) -> dict[str, float]:
    """Decode MB/s of each from-scratch codec on one seeded buffer, with
    its ratio to the stdlib decoder on the same compressed bytes.  Every
    decode must round-trip byte-identical."""
    import bz2
    import lzma
    import random
    import zlib

    from pr2_transformation_spark.sources import bzip2, inflate, lzma_dec, zstd

    rng = random.Random(seed)
    words = [bytes(rng.choices(range(97, 123), k=rng.randint(2, 9))) for _ in range(400)]
    raw = b" ".join(rng.choice(words) for _ in range(size // 4))[:size]

    def rate(fn, blob) -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            out = fn(blob)
            best = min(best, time.perf_counter() - t0)
            if out != raw:
                raise RuntimeError(f"{getattr(fn, '__name__', fn)} did not round-trip")
        return len(raw) / best / 1e6

    out: dict[str, float] = {}
    cases = {
        "inflate": (zlib.compress(raw, 6), inflate.zlib_decompress, zlib.decompress),
        "bzip2": (bz2.compress(raw, 9), bzip2.bz2_decompress, bz2.decompress),
        "lzma": (lzma.compress(raw, format=lzma.FORMAT_XZ), lzma_dec.xz_decompress, lzma.decompress),
        "zstd": (zstd.zstd_compress(raw), zstd.zstd_decompress, None),
    }
    for name, (blob, ours, stdlib) in cases.items():
        mine = rate(ours, blob)
        out[f"codec.{name}.decode_mb_s"] = mine
        if stdlib is not None:
            out[f"codec.{name}.ratio_vs_stdlib"] = mine / rate(stdlib, blob)
    return out
