"""Benchmark of the proto_to_avro_ql_spark engine.

    python3 perfbench/run.py --workload report_export --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. One Python process
drives a ``local[4]`` Spark session as a single closed-loop client: the
next request is sent when the previous one has completed. The tables are
generated into ``perfbench/_out`` (see datagen.py); the seed picks the
request parameters and their order (workloads.py). Every timed action
computes the full result (a collect or a sink write), and every result
is checked against a DuckDB oracle after the timed loop.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs each
request twice, untraced and traced in alternating order, records spans
and Spark's event log for the traced copy, and prints the per-layer
metrics and the tracing overhead. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. The
full run record (metrics, failures, per-shape digests, spans and
per-request stages) is written under ``perfbench/_out/<run>/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import re
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "_out")
CORES = 4
DRIVER_MEM = "2g"
MAX_BLOCKS = 64
# Blocks in the untimed warm-up pass. Requests keep getting faster
# through the first blocks (JIT compilation, first use of each plan shape
# and Python worker): lookups level off in their third block, reports
# only after about six, corpus_udf cycles on a busy host only in their
# fourth. The first block holds the first use of every request shape;
# more warm-up blocks for lookups or reports would not fit the run budget
# (see README.md).
WARMUP_BLOCKS = {"gaql_lookup": 1, "report_export": 1, "corpus_udf": 3}
# The timed loop runs at least one block per BLOCK_EVERY_S seconds of
# ``--seconds``. No block of the workload took less than this on a 4-core
# host, so those blocks outlast ``--seconds`` and every run times the same
# number of requests: the tail percentile depends on the count.
BLOCK_EVERY_S = {"gaql_lookup": 3.5, "report_export": 2.0, "corpus_udf": 3.5}

sys.path.insert(0, HERE)

import datagen  # noqa: E402
from workloads import (  # noqa: E402
    ADS_ROW_SOURCE_ROWS, CORPUS_ENTRIES, DETAIL_PATHS, SINKS, WORKLOADS, Request, generate,
)

# --- process-level measurements ---------------------------------------------

def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
                out += kids
                todo += kids
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


def tree_rss_mb(pid: int) -> dict[str, float]:
    """Resident memory in MB of ``pid`` and its Java and Python
    descendants, by process name. Other descendants are left out: they
    are commands the JVM forks, and between fork and exec such a child
    still reports the JVM's whole resident set."""
    out: dict[str, float] = {}
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except (FileNotFoundError, ProcessLookupError):
            continue
        name = fields.get("Name", "").strip()
        if "VmRSS" in fields and (name == "java" or name.startswith("python")):
            out[name] = out.get(name, 0.0) + int(fields["VmRSS"].split()[0]) / 1024.0
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0.0
        self.peak_by_process: dict[str, float] = {}
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            by_process = tree_rss_mb(os.getpid())
            total = sum(by_process.values())
            if total > self.peak:
                self.peak, self.peak_by_process = total, by_process
            self._stop_event.wait(self.interval)

    def stop(self) -> float:
        self._stop_event.set()
        self.join(timeout=10)
        return self.peak


def source_digest() -> dict:
    """Which code ran: the git commit when the checkout has one, and a
    hash of the engine's sources either way."""
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(ROOT, ".git", ref[5:])
            if os.path.isfile(ref_path):
                with open(ref_path) as f:
                    commit = f.read().strip()
        else:
            commit = ref
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "proto_to_avro_ql_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return {"commit": commit, "engine_sha256": h.hexdigest()}


def cpu_times() -> list[int]:
    """The host's aggregate CPU times (``/proc/stat``), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time that the hypervisor gave to other guests between
    two ``cpu_times()`` readings: how much other tenants slowed this run."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def host_probe_s() -> float:
    """Seconds one core takes for a fixed loop of Python arithmetic: a
    record of how fast the host ran, to compare runs by."""
    t = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest percentile with at
    least ten samples above it; the maximum when there are too few."""
    xs = sorted(latencies)
    if len(xs) < 11:
        return xs[-1], 100.0, 0
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs) - 1 - i


# --- one request --------------------------------------------------------------

@dataclass
class Outcome:
    req: Request
    tag: str  # "warmup", "timed" or "traced"
    latency: float = 0.0
    error: str | None = None
    result: object = None  # collected pandas frame (requests without a sink)
    schema: object = None  # Spark schema of the result
    sink_path: str | None = None
    rows: int | None = None
    sink_bytes: int = 0
    hit: bool | None = None
    retained_bytes: int = 0
    retained_relations: int = 0
    problems: list = field(default_factory=list)


class Bench:
    def __init__(self, workload: str, run_dir: str, sf_dir: str, tables: dict):
        from proto_to_avro_ql_spark.plans.gaql import default_catalog
        from proto_to_avro_ql_spark.session import get_spark

        self.workload, self.sf_dir, self.tables = workload, sf_dir, tables
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.catalog = default_catalog(self.spark, sf_dir)
        from proto_to_avro_ql_spark.entry_queries import QUERIES
        from proto_to_avro_ql_spark.sources.io import QueryCache
        from verify import ExecutionLog

        self.queries = QUERIES
        self.caches = {tag: QueryCache(self.spark, os.path.join(run_dir, "cache", tag))
                       for tag in ("warmup", "timed", "traced")}
        self.sink_dir = os.path.join(run_dir, "sinks")
        os.makedirs(self.sink_dir, exist_ok=True)
        self.execlog = ExecutionLog(self.spark)
        self.source_rows: dict[str, int] = {}
        self.shapes: dict[str, dict] = {}
        self.parity_failures: list[str] = []

    # Each runner returns the Outcome fields of one request. ``parity``
    # (warm-up only) records the plan-parity check of the timed action.

    def _gaql_lookup(self, req, tracer, tag, parity):
        from proto_to_avro_ql_spark.plans.gaql import run_gaql

        cache = self.caches[tag]
        built = {}

        def producer():
            with tracer.span("plans.build"):
                df = run_gaql(self.spark, req.text, self.catalog, implicit_agg=req.implicit_agg)
            if parity:
                built["check"] = self._parity_start(df)
            return df

        with tracer.span("sources.cache_lookup"):
            hit = cache.hit(req.text)
        with tracer.span("sources.cache_hit" if hit else "sources.cache_miss"):
            replay = cache.run(req.text, producer)
        with tracer.span("exec.action"):
            pdf = replay.toPandas()
        if built:
            self._parity_end(req, built["check"])
        return {"result": pdf, "schema": replay.schema, "rows": len(pdf), "hit": hit}

    def _report_export(self, req, tracer, tag, parity):
        from pyspark.sql import functions as F

        from proto_to_avro_ql_spark.plans.compile import (
            Constant, Scalar, SynthStruct, compile_projection,
        )
        from proto_to_avro_ql_spark.plans.gaql import run_gaql
        from proto_to_avro_ql_spark.sources.avro_sink import write_avro_file
        from proto_to_avro_ql_spark.sources.io import sink_json

        with tracer.span("plans.build"):
            if req.entry:
                df = self.queries[req.text](self.spark, self.sf_dir)
            elif req.implicit_agg:
                df = run_gaql(self.spark, req.text, self.catalog, implicit_agg=True)
            else:
                lo, hi = req.window
                src = self.catalog("ads_row").where(F.col("segments.date").between(lo, hi))
                df = compile_projection(src, list(DETAIL_PATHS), {
                    "account_id": Scalar("customer.id"),
                    "report": Constant("perfbench", "string"),
                    "meta": SynthStruct({"day": Scalar("segments.date"),
                                         "tag": Constant(req.rid, "bigint")}),
                })
        if req.entry:
            self._note_source_rows(req, df)
        check = self._parity_start(df) if parity else None
        path = os.path.join(self.sink_dir, f"{tag}-{req.rid}.{req.sink}")
        rows = None
        with tracer.span("sources.sink", sink=req.sink):
            if req.sink == "avro":
                rows = write_avro_file(df, path)
            elif req.sink == "json":
                sink_json(df, path)
            else:
                df.write.mode("overwrite").parquet(path)
        if parity:
            self._parity_end(req, check)
        return {"sink_path": path, "schema": df.schema, "rows": rows}

    def _corpus_udf(self, req, tracer, tag, parity):
        with tracer.span("plans.build"):
            df = self.queries[req.text](self.spark, self.sf_dir)
        self._note_source_rows(req, df)
        check = self._parity_start(df) if parity else None
        with tracer.span("exec.action"):
            pdf = df.toPandas()
        if parity:
            self._parity_end(req, check)
        return {"result": pdf, "schema": df.schema, "rows": len(pdf)}

    def _note_source_rows(self, req, df) -> None:
        """Remember the source rows an entry's plan scans. Every entry runs
        in the warm-up, so timed requests find theirs already noted."""
        if req.text not in self.source_rows:
            self.source_rows[req.text] = self._input_rows(df)

    def _input_rows(self, df) -> int:
        """Rows of the source tables the result's plan scans."""
        names = {os.path.basename(p.rstrip("/")).split(".")[0] for p in df.inputFiles()}
        return sum(self.tables.get(n, 0) for n in names)

    def _parity_start(self, df) -> tuple:
        """Read the result's optimized plan just before the timed action."""
        from verify import optimized_classes

        plan = df._jdf.queryExecution().optimizedPlan().toString()
        digest = hashlib.sha256(
            re.sub(r"#\d+|'[^']*'|\b\d+\b", "?", plan).encode()).hexdigest()[:16]
        return optimized_classes(df), digest, self.execlog.mark()

    def _parity_end(self, req, check: tuple) -> None:
        """Compare the operators the timed action ran with the result's plan."""
        from verify import parity_gaps

        want, digest, mark = check
        gaps = parity_gaps(want, self.execlog.classes_since(mark))
        self.shapes.setdefault(req.shape, {}).update(
            plan_digest=digest, operators=dict(want))
        if gaps:
            self.parity_failures.append(f"{req.shape}: " + "; ".join(gaps))

    def execute(self, req: Request, tracer, tag: str, parity: bool = False) -> Outcome:
        run = getattr(self, f"_{self.workload}")
        out = Outcome(req, tag)
        request_id = f"{tag}:{req.rid}"
        tracer.forget_planning()
        t = time.perf_counter()
        try:
            with tracer.request_scope(request_id):
                fields = run(req, tracer, tag, parity)
            out.latency = time.perf_counter() - t
            for k, v in fields.items():
                setattr(out, k, v)
        except Exception as e:  # noqa: BLE001 - a failed request is counted, not fatal
            out.latency = time.perf_counter() - t
            out.error = f"{type(e).__name__}: {e}".splitlines()[0][:500]
            traceback.print_exc(file=sys.stderr)
        tracer.add_planning(request_id)
        # Cache hygiene: what the request left persisted, then drop it.
        sc = self.spark.sparkContext
        infos = sc._jsc.sc().getRDDStorageInfo()
        out.retained_bytes = sum(i.memSize() + i.diskSize() for i in infos)
        out.retained_relations = sc._jsc.getPersistentRDDs().size()
        self.spark.catalog.clearCache()
        return out

    def request_source_rows(self, req: Request) -> int:
        if req.entry:
            return self.source_rows.get(req.text, 0)
        return ADS_ROW_SOURCE_ROWS

    def stop(self) -> None:
        """Stop the session and wait until the JVM and its workers exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        pids = descendants(os.getpid())
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
            time.sleep(0.1)
        for p in pids:
            if os.path.exists(f"/proc/{p}"):
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass


# --- verification ---------------------------------------------------------------

def verify_all(bench: Bench, outcomes: list[Outcome]) -> dict:
    from tests.oracle_check import value_hash
    from verify import Oracle, perturbed, problems, read_sink, sink_bytes, flatten

    oracle = Oracle(bench.sf_dir)
    canary = None
    for o in outcomes:
        if o.error:
            o.problems = [o.error]
            continue
        try:
            if o.req.sink:
                got = read_sink(bench.spark, o.req.sink, o.sink_path, o.schema)
                o.rows = len(got)
            else:
                got = flatten(o.result, o.schema)
            if o.req.oracle_sql is not None:
                want, want_hash = oracle.result(o.req.oracle_sql)
            else:
                want, want_hash = oracle.entry(o.req.text)
            got_hash = value_hash(got)
        except Exception as e:  # noqa: BLE001
            o.problems = [f"verification error {type(e).__name__}: {e}".splitlines()[0]]
            continue
        o.problems = problems(got, want, got_hash, want_hash)
        shape = bench.shapes.setdefault(o.req.shape, {})
        shape["requests"] = shape.get("requests", 0) + 1
        shape["rows"] = shape.get("rows", 0) + len(got)
        shape.setdefault("hashes", set()).add(got_hash)
        if canary is None and not o.problems:
            canary = "caught" if problems(perturbed(got), want, want_hash=want_hash) else "missed"
        o.result = None
    for shape in bench.shapes.values():
        hashes = sorted(shape.pop("hashes", ()))
        shape["value_hash"] = hashlib.sha256("\n".join(hashes).encode()).hexdigest()[:16]
    for o in outcomes:
        if o.req.sink and not o.error:
            o.sink_bytes = sink_bytes(o.sink_path)
    return {"canary": canary or "no result to perturb", "sinks": sink_totals(outcomes)}


def sink_totals(outcomes: list[Outcome]) -> dict[str, dict]:
    """Rows and bytes written per sink."""
    out: dict[str, dict] = {}
    for o in outcomes:
        if o.req.sink and not o.error:
            s = out.setdefault(o.req.sink, {"bytes": 0, "rows": 0, "requests": 0})
            s["bytes"] += o.sink_bytes
            s["rows"] += o.rows or 0
            s["requests"] += 1
    return out


# --- metrics --------------------------------------------------------------------

def end_to_end(bench: Bench, timed: list[Outcome], loop_s: float, setup_s: float,
               peak_mb: float) -> tuple[dict, dict]:
    ok = [o for o in timed if not o.error]
    lat = [o.latency for o in ok] or [loop_s]
    tail_v, tail_p, beyond = tail(lat)
    metrics = {
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail_v,
        "throughput_rows_per_s": sum(bench.request_source_rows(o.req) for o in ok) / loop_s,
        "peak_rss_mb": peak_mb,
        "setup_s": setup_s,
    }
    detail = {"latency_samples": len(lat), "tail_percentile": tail_p,
              "tail_samples_beyond": beyond,
              "output_bytes_per_row": {sink: t["bytes"] / t["rows"]
                                       for sink, t in sink_totals(timed).items() if t["rows"]}}
    return metrics, detail


def per_layer(tracer, pairs: list[tuple[Outcome, Outcome]], log: dict) -> dict:
    from tracing import ACTION_SPANS

    traced = [t for _, t in pairs]
    sinks = sink_totals(traced)
    n = max(len(traced), 1)

    def mean_log(key: str) -> float:
        return sum(log.get(f"traced:{o.req.rid}", {}).get(key, 0) for o in traced) / n

    spans = tracer.spans
    build = tracer.total("plans.build")
    plan = tracer.total("catalyst.plan")
    action = tracer.self_total(*ACTION_SPANS)  # planning inside the action left out
    action_task_s = mean_log("action_task_s") * n
    hits = [s for s in spans if s["name"] == "sources.cache_hit"]
    misses = [s for s in spans if s["name"] == "sources.cache_miss"]
    m = {
        "plans.build_s": build / n,
        "plans.build_jobs": mean_log("build_jobs"),
        "catalyst.plan_s": plan / n,
        "catalyst.exchanges": mean_log("exchanges"),
        "catalyst.python_nodes": mean_log("python_nodes"),
        "exec.action_s": action / n,
        "exec.jobs": mean_log("jobs"),
        "exec.stages": mean_log("stages"),
        "exec.tasks": mean_log("tasks"),
        "exec.task_s": mean_log("task_s"),
        "exec.busy_ratio": action_task_s / (action * CORES) if action > 0 else 0.0,
        "exec.shuffle_write_bytes": mean_log("shuffle_write_bytes"),
        "exec.spill_bytes": mean_log("spill_bytes"),
        "exec.gc_s": mean_log("gc_s"),
        "exec.scan_bytes": mean_log("scan_bytes"),
        "exec.python_rows": mean_log("python_rows"),
    }
    for sink in SINKS:
        t = tracer.total("sources.sink", sink=sink)
        s = sinks.get(sink, {"rows": 0, "bytes": 0})
        m[f"sources.{sink}_rows_per_s"] = s["rows"] / t if t > 0 else 0.0
        m[f"sources.{sink}_bytes_per_row"] = s["bytes"] / s["rows"] if s["rows"] else 0.0
    sink_requests = sum(s["requests"] for s in sinks.values())
    m["sources.sink_bytes"] = (sum(s["bytes"] for s in sinks.values()) / sink_requests
                               if sink_requests else 0.0)
    lookups = len(hits) + len(misses)
    m["sources.cache_hit_ratio"] = len(hits) / lookups if lookups else 0.0
    m["sources.cache_hit_s"] = (sum(s["end"] - s["start"] for s in hits) / len(hits)
                                if hits else 0.0)
    m["sources.cache_miss_s"] = (sum(s["end"] - s["start"] for s in misses) / len(misses)
                                 if misses else 0.0)
    m["session.retained_cache_bytes"] = sum(o.retained_bytes for o in traced) / n
    m["session.retained_relations"] = sum(o.retained_relations for o in traced) / n
    self_t = tracer.self_times()
    for layer in ("request", "plans", "catalyst", "exec", "sources"):
        m[f"self.{layer}_s"] = self_t.get(layer, 0.0) / n
    untraced = sum(u.latency for u, _ in pairs)
    m["trace.overhead_ratio"] = (sum(t.latency for t in traced) / untraced - 1.0
                                 if untraced > 0 else 0.0)
    for entry, module in CORPUS_ENTRIES.items():
        lat = [o.latency for o in traced if o.req.text == entry]
        m[f"{module}.{entry}_s"] = sum(lat) / len(lat) if lat else 0.0
    return m


METRIC_UNITS = {
    "latency_p50_s": "s", "latency_tail_s": "s", "throughput_rows_per_s": "rows/s",
    "peak_rss_mb": "MB", "setup_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "catalyst.plan_s": "s", "catalyst.exchanges": "count", "catalyst.python_nodes": "count",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.busy_ratio": "ratio", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.gc_s": "s", "exec.scan_bytes": "bytes",
    "exec.python_rows": "count",
    "sources.avro_rows_per_s": "rows/s", "sources.json_rows_per_s": "rows/s",
    "sources.parquet_rows_per_s": "rows/s", "sources.avro_bytes_per_row": "bytes",
    "sources.json_bytes_per_row": "bytes", "sources.parquet_bytes_per_row": "bytes",
    "sources.sink_bytes": "bytes", "sources.cache_hit_ratio": "ratio",
    "sources.cache_hit_s": "s", "sources.cache_miss_s": "s",
    "session.retained_cache_bytes": "bytes", "session.retained_relations": "count",
    "self.request_s": "s", "self.plans_s": "s", "self.catalyst_s": "s", "self.exec_s": "s",
    "self.sources_s": "s", "trace.overhead_ratio": "ratio",
    **{f"{mod}.{entry}_s": "s" for entry, mod in CORPUS_ENTRIES.items()},
}


def listed_metrics(traced: bool) -> list[str]:
    """The metrics BENCHMARK.json asks a run for: end-to-end untraced,
    per-layer traced. Other metrics a run computes go to its record."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]


# --- command line ---------------------------------------------------------------

def configure_environment(run_dir: str, traced: bool) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        # A heap that starts at its maximum: G1 otherwise settles on a heap
        # size that differs from run to run, and request latency tracked the
        # JVM's resident memory across runs of the same code.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + log_dir
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = process_start_epoch()
    traced = bool(args.trace)

    if not (os.path.isdir(os.path.join(ROOT, "proto_to_avro_ql_spark"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle_check.py"))):
        print(f"perfbench: engine sources not found under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "sf": datagen.SF, "data_seed": datagen.DATA_SEED,
              "nproc": os.cpu_count(), "cores": CORES, "loadavg_start": os.getloadavg(),
              "host_probe_start_s": host_probe_s(),
              **source_digest()}
    configure_environment(run_dir, traced)
    sf_dir = os.path.join(run_dir, "data")
    tables = datagen.write_tables(sf_dir)

    from tracing import Tracer, read_event_log

    sampler = RssSampler()
    sampler.start()
    phases = {"data": time.time() - t_start}
    bench = Bench(args.workload, run_dir, sf_dir, tables)
    phases["session"] = time.time() - t_start
    try:
        untraced = Tracer(False)
        outcomes = [bench.execute(r, untraced, "warmup", parity=True)
                    for r in generate(args.workload, args.seed, WARMUP_BLOCKS[args.workload],
                                      stream="warmup")]
        setup_s = time.time() - t_start
        phases["warmup"] = setup_s

        tracer = Tracer(True, bench.spark) if traced else untraced
        timed: list[Outcome] = []
        pairs: list[tuple[Outcome, Outcome]] = []
        requests = generate(args.workload, args.seed, MAX_BLOCKS)
        # Traced runs report means over whole blocks, not percentiles.
        min_blocks = 1 if traced else math.ceil(args.seconds / BLOCK_EVERY_S[args.workload])
        cpu_start = cpu_times()
        t0 = time.perf_counter()
        for i, req in enumerate(requests):
            if (i and req.block != requests[i - 1].block and req.block >= min_blocks
                    and time.perf_counter() - t0 >= args.seconds):
                break
            if not traced:
                timed.append(bench.execute(req, untraced, "timed"))
                continue
            # Paired copies in alternating order: the difference is the tracing overhead.
            if req.rid % 2:
                t = bench.execute(req, tracer, "traced")
                u = bench.execute(req, untraced, "timed")
            else:
                u = bench.execute(req, untraced, "timed")
                t = bench.execute(req, tracer, "traced")
            pairs.append((u, t))
            timed += [u, t]
        loop_s = time.perf_counter() - t0
        loop_steal = steal_share(cpu_start, cpu_times())
        peak_mb = sampler.stop()
        phases["loop"] = time.time() - t_start
        checked = verify_all(bench, outcomes + timed)
        phases["verify"] = time.time() - t_start
    finally:
        sampler.stop()
        bench.stop()
    phases["stop"] = time.time() - t_start

    outcomes += timed
    failed = [o for o in outcomes if o.problems]
    record.update({
        "setup_s": setup_s, "loop_s": loop_s, "phases_end_s": phases,
        "peak_rss_by_process_mb": sampler.peak_by_process, "loadavg_end": os.getloadavg(),
        "host_probe_end_s": host_probe_s(), "loop_cpu_steal_share": loop_steal,
        "requests": len(timed), "canary": checked["canary"],
        "parity_failures": bench.parity_failures, "shapes": bench.shapes,
        "sinks": checked["sinks"],
        "failures": [{"rid": o.req.rid, "tag": o.tag, "shape": o.req.shape,
                      "text": o.req.text, "problems": o.problems} for o in failed],
        "error_rate": len(failed) / len(outcomes),
        "request_log": [{"rid": o.req.rid, "tag": o.tag, "shape": o.req.shape,
                         "latency_s": o.latency, "rows": o.rows, "hit": o.hit}
                        for o in outcomes],
    })
    if traced:
        log = read_event_log(os.path.join(run_dir, "eventlog"))
        metrics = per_layer(tracer, pairs, log)
        record["request_stages"] = {k: v.pop("stages_detail") for k, v in log.items()}
        record["spark_per_request"] = log
        tracer.write(os.path.join(run_dir, "spans.jsonl"))
    else:
        metrics, detail = end_to_end(bench, timed, loop_s, setup_s, peak_mb)
        record.update(detail)
    record["metrics"] = metrics
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for sub in ("data", "sinks", "cache", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)

    correct = not failed and checked["canary"] == "caught" and not bench.parity_failures
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(timed)} timed requests in {loop_s:.2f} s, set-up {setup_s:.2f} s, "
          f"{100 * loop_steal:.0f}% of CPU time stolen by other guests while timed")
    for name, value in metrics.items():
        print(f"  {name} = {value:.6g} {METRIC_UNITS[name]}")
    if not traced:
        print(f"  latency_tail_s is p{record['tail_percentile']:.1f} of "
              f"{record['latency_samples']} samples ({record['tail_samples_beyond']} beyond)")
        for sink, value in record["output_bytes_per_row"].items():
            print(f"  output_bytes_per_row.{sink} = {value:.6g} bytes")
    print(f"  error_rate = {record['error_rate']:.4g} ({len(failed)} of {len(outcomes)} "
          f"requests, warm-up included); canary {checked['canary']}")
    for f in record["failures"]:
        print(f"  FAILED {f['tag']} request {f['rid']} [{f['shape']}] {f['text'][:120]}: "
              f"{'; '.join(f['problems'])}")
    for p in bench.parity_failures:
        print(f"  PARITY {p}")
    print(json.dumps({
        "correct": correct, "attempted": len(outcomes), "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": METRIC_UNITS[k]}
                    for k in listed_metrics(traced)},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
