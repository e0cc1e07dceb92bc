"""Run one benchmark workload against pyarrow_ops_spark and print its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Run it from the root of the repository. The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (see perfbench/README.md).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
OP_TIMEOUT_S = 20
RUN_BUDGET_S = 140  # start no op after this, to exit well within 180 s

# Per-layer metrics that are a level, not a per-op amount: reported as max.
GAUGES = {
    "operators.agg_peak_bytes", "spark.cached_bytes", "streaming.state_rows",
    "streaming.state_mem_bytes", "streaming.state_partitions",
}
PER_LAYER = [
    "session.start_s", "session.peak_rss_mb",
    "sources.call_s", "sources.scan_s", "sources.bytes_read", "sources.rows_read",
    "sources.files_read", "sources.ipc_offset_s",
    "operators.call_s", "operators.agg_build_s", "operators.agg_peak_bytes",
    "operators.sort_s", "operators.join_build_s", "operators.broadcast_bytes",
    "operators.spill_bytes",
    "functions.call_s", "functions.eager_jobs", "functions.python_run_s",
    "functions.python_start_s", "functions.python_bytes", "functions.lsh_buckets",
    "functions.lsh_verified", "functions.lsh_useful_ratio", "functions.cc_rounds",
    "ml.fit_s", "ml.fit_jobs", "ml.transform_s",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.plan_s",
    "streaming.commit_s", "streaming.state_rows", "streaming.state_rows_updated",
    "streaming.state_mem_bytes", "streaming.state_commit_s",
    "streaming.state_partitions", "streaming.rows_dropped_by_watermark",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.no_job_s", "spark.task_s",
    "spark.cpu_s", "spark.gc_s", "spark.core_util", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.fetch_wait_s", "spark.shuffle_write_s",
    "spark.spill_bytes", "spark.cached_bytes",
    "bench.trace_overhead_s",
]
_E2E_UNITS = {
    "setup_s": "s", "rows_per_s": "rows/s", "latency_p50_s": "s",
    "latency_tail_s": "s", "task_s": "s",
}


def unit_of(name: str) -> str:
    if name.endswith(("core_util", "ratio")):
        return "fraction"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    return "s" if name.endswith("_s") else "count"


class OpTimeout(Exception):
    pass


@dataclass
class OpRecord:
    kind: str
    wall: float
    rows: int
    timed: bool
    error: str | None = None
    task_s: float = 0.0
    layer: dict = field(default_factory=dict)


class Runner:
    """Runs ops, times them, checks them and (traced) reads what Spark did."""

    def __init__(self, spark, tracer, probe, cores: int):
        self.spark = spark
        self.tracer = tracer
        self.probe = probe
        self.cores = cores
        self.records: list[OpRecord] = []
        self._counts: dict = defaultdict(float)
        self.failures: list[str] = []
        self.after_s = 0.0  # time spent after ops: checks and bookkeeping

    @property
    def tracing(self) -> bool:
        return self.tracer.enabled

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer)

    def count(self, name: str, value: float) -> None:
        """Add a per-op count read from the program (traced runs)."""
        self._counts[name] += float(value)

    def gauge(self, name: str, value: float) -> None:
        """Record a level read from the program (traced runs); max per op."""
        self._counts[name] = max(self._counts.get(name, 0.0), float(value))

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAILED {what}", file=sys.stderr)

    @contextmanager
    def _deadline(self, seconds: int):
        def on_alarm(signum, frame):
            raise OpTimeout(f"op exceeded {seconds} s")

        old = signal.signal(signal.SIGALRM, on_alarm)
        signal.alarm(seconds)
        try:
            yield
        finally:
            signal.alarm(0)
            signal.signal(signal.SIGALRM, old)

    def run_op(self, kind, rows, fn, check=None, timed=True, observe=None):
        """Time ``fn()`` (which must end in its action), then check its result.

        ``observe`` runs after timing in traced runs, to read the program's
        own counters (``Runner.count``)."""
        probe = self.probe
        probe.wait_listeners()
        probe.skip()
        self._counts = defaultdict(float)
        op_id = f"o{len(self.records)}"
        rec = OpRecord(kind, 0.0, rows, timed)
        result = None
        e0 = time.time()
        t0 = time.perf_counter()
        try:
            with self._deadline(OP_TIMEOUT_S), self.tracer.op(op_id, kind):
                result = fn()
        except Exception as exc:  # an op that raises is counted, not fatal
            rec.error = f"{type(exc).__name__}: {exc}"
            if isinstance(exc, OpTimeout):
                self.spark.sparkContext.cancelAllJobs()
        rec.wall = time.perf_counter() - t0
        e1 = time.time()
        b0 = time.perf_counter()
        probe.wait_listeners()
        jobs = probe.new_jobs()
        stages = [st for sid in {s for j in jobs for s in j["stages"]}
                  if (st := probe.stage(sid)) is not None]
        rec.task_s = sum(st["run_s"] for st in stages)
        if self.tracing:
            rec.layer = self._trace_op(op_id, jobs, stages, e0, e1, rec.wall)
            if observe is not None and rec.error is None:
                observe()
            rec.layer.update(self._counts)
            rec.layer["bench.trace_overhead_s"] = time.perf_counter() - b0
        if rec.error is None and check is not None:
            try:
                check(result)
            except Exception as exc:
                rec.error = f"check failed: {type(exc).__name__}: {exc}"
        if rec.error is not None:
            self.fail(f"{'timed' if timed else 'warm-up'} op {kind}: {rec.error}")
        self.spark.catalog.clearCache()
        self.records.append(rec)
        self.after_s += time.perf_counter() - b0
        return result

    def _trace_op(self, op_id: str, jobs: list, stages: list, e0: float, e1: float,
                  wall: float) -> dict:
        probe, tracer = self.probe, self.tracer
        m: dict = defaultdict(float)
        for j in jobs:
            m["spark.jobs"] += 1
            span = tracer.span_of_group(j["group"])
            if span is not None and span.layer == "functions":
                m["functions.eager_jobs"] += 1
            if span is not None and span.name == "ml.fit":
                m["ml.fit_jobs"] += 1
        for st in stages:
            m["spark.stages"] += 1
            m["spark.tasks"] += st["tasks"]
            m["spark.task_s"] += st["run_s"]
            m["spark.cpu_s"] += st["cpu_s"]
            m["spark.gc_s"] += st["gc_s"]
            for k in ("shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
                      "shuffle_write_s", "spill_bytes"):
                m[f"spark.{k}"] += st[k]
        covered, cursor = 0.0, e0
        for a, b in sorted((j["submit"], j["end"] or e1) for j in jobs if j["submit"]):
            a, b = max(a, cursor), min(b, e1)
            if b > a:
                covered += b - a
                cursor = b
        m["spark.no_job_s"] = max(0.0, wall - covered)
        for _jobs, name, metrics in probe.new_plan_nodes():
            _map_node(name, metrics, m)
        m["spark.cached_bytes"] = probe.storage_bytes()
        selfs = tracer.self_times({op_id})
        for layer in ("sources", "operators", "functions"):
            m[f"{layer}.call_s"] = selfs.get(layer, 0.0)
        for s in tracer.spans:
            if s.op == op_id and s.name in ("ml.fit", "ml.transform"):
                m[f"{s.name}_s"] += s.end - s.start
        out = dict(m)
        out["_self"] = selfs
        return out


def _map_node(name: str, metrics: dict, m: dict) -> None:
    """Fold one SQL plan node's metrics into the per-layer counters."""
    get = metrics.get
    if name.startswith(("Scan ", "BatchScan", "FileScan", "MicroBatchScan")) \
            and "ExistingRDD" not in name:
        m["sources.scan_s"] += get("scan time", 0.0)
        m["sources.bytes_read"] += get("size of files read", 0.0)
        m["sources.files_read"] += get("number of files read", 0.0)
        m["sources.rows_read"] += get("number of output rows", 0.0)
    if name.endswith("Aggregate"):
        m["operators.agg_build_s"] += get("time in aggregation build", 0.0)
        m["operators.agg_peak_bytes"] = max(m["operators.agg_peak_bytes"], get("peak memory", 0.0))
    if name == "Sort":
        m["operators.sort_s"] += get("sort time", 0.0)
    if name == "BroadcastExchange":
        m["operators.broadcast_bytes"] += get("data size", 0.0)
        m["operators.join_build_s"] += get("time to build", 0.0)
    if name == "ShuffledHashJoin":
        m["operators.join_build_s"] += get("time to build hash map", 0.0)
    m["operators.spill_bytes"] += get("spill size", 0.0)
    if any("Python workers" in k for k in metrics):
        m["functions.python_run_s"] += get("time to run Python workers", 0.0)
        m["functions.python_start_s"] += get("time to start Python workers", 0.0)
        m["functions.python_bytes"] += get("data sent to Python workers", 0.0) + get(
            "data returned from Python workers", 0.0)


def _vm_hwm_kb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return float(line.split()[1])
    return 0.0


def _reset_hwm() -> None:
    """Reset this process's peak-RSS mark (input generation is not the program's)."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _percentile(values: list, pct: float) -> float:
    vals = sorted(values)
    if len(vals) == 1:
        return vals[0]
    pos = (len(vals) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def per_round(records: list, key) -> float:
    """Sum over op kinds of the median per op of that kind: the amount for
    one round of the workload, whatever number of ops a run completed."""
    by_kind: dict = defaultdict(list)
    for r in records:
        by_kind[r.kind].append(key(r))
    return sum(statistics.median(v) for v in by_kind.values())


def _git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10, check=True)
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _prepare_env(cores: int, tmp: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    # keep the JVM inside the checkout: temp files, and no /tmp/hsperfdata_* counters
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python data-source workers import the package by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)


def _shutdown(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["relational", "curation", "streaming"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pyarrow_ops_spark", "__init__.py")):
        print(f"perfbench: no pyarrow_ops_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs as inputs_mod
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    run_tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    tmp = os.path.join(WORK, "tmp", run_tag)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(cores, tmp)

    inp = inputs_mod.generate(args.workload, args.seed, WORK)
    print(f"inputs: {args.workload} seed={args.seed} {'cached' if inp.cached else 'generated'} "
          f"in {inp.gen_s:.2f} s")
    for name, t in inp.tables.items():
        print(f"  input {name}: {t['rows']} rows, {t['bytes']} bytes")
    _reset_hwm()

    # ---- set-up: session start (the JVM launch too), input registration,
    # index builds and warm-up; setup_s runs from process start to the first
    # timed op, less input generation and check time
    t_setup = time.perf_counter()
    import pyarrow_ops_spark as P
    from perfbench.trace import SparkProbe, Tracer

    import_s = time.perf_counter() - t_setup
    t0 = time.perf_counter()
    spark = P.get_spark()
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](P, spark, inp, tmp, args.seed)
    t0 = time.perf_counter()
    wl.register()
    register_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.build()
    build_s = time.perf_counter() - t0
    tracer = Tracer(bool(args.trace), spark.sparkContext)
    probe = SparkProbe(spark)
    runner = Runner(spark, tracer, probe, cores)
    wl.runner = runner
    t0 = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t0 - runner.after_s  # checks are not set-up

    # ---- timed section
    t_timed = time.perf_counter()
    setup_s = t_timed - T_PROCESS - inp.gen_s - runner.after_s
    wl.timed(args.seconds, deadline=T_PROCESS + RUN_BUDGET_S)
    timed_wall = time.perf_counter() - t_timed
    setup_s += wl.setup_extra_s
    wl.final_checks()

    jvm_kb = _vm_hwm_kb(probe.jvm_pid())
    py_kb = _vm_hwm_kb(os.getpid())
    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": spark.conf.get("spark.driver.memory", "unset"),
        "spark": spark.version, "pyarrow": __import__("pyarrow").__version__,
        "duckdb": __import__("duckdb").__version__, "python": platform.python_version(),
        "git_commit": _git_commit(),
        "inputs": inp.tables, "input_rows": inp.total_rows,
    }
    if args.trace:
        tracer.write(os.path.join(out_dir, f"spans-{run_tag}.jsonl"))
    _shutdown(spark)
    shutil.rmtree(tmp, ignore_errors=True)

    timed = [r for r in runner.records if r.timed]
    attempted = len(runner.records) + wl.extra_checks
    failed = len(runner.failures)
    if not timed:
        print("perfbench: no timed op completed", file=sys.stderr)
        return 3
    walls = [r.wall for r in timed]
    tail_pct = wl.tail_pct
    beyond = sum(1 for w in walls if w > _percentile(walls, tail_pct))
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": per_round(timed, lambda r: r.rows) / per_round(timed, lambda r: r.wall),
        "latency_p50_s": statistics.median(walls),
        "latency_tail_s": _percentile(walls, tail_pct),
        "task_s": per_round(timed, lambda r: r.task_s),
    }
    error_rate = failed / attempted
    peak_rss_mb = (jvm_kb + py_kb) / 1024.0
    print(f"meta: {json.dumps(meta, sort_keys=True)}")
    print(f"setup: import {import_s:.3f} s, session {session_s:.3f} s, "
          f"register {register_s:.3f} s, build {build_s:.3f} s, "
          f"warm-up {warmup_s + wl.setup_extra_s:.3f} s")
    print(f"timed: {len(timed)} ops of {len({r.kind for r in timed})} kinds in "
          f"{timed_wall:.2f} s wall ({sum(walls):.2f} s inside ops), "
          f"{sum(r.rows for r in timed)} input rows")
    for name, val in e2e.items():
        note = ""
        if name == "latency_p50_s":
            note = f"  (n={len(walls)})"
        elif name == "latency_tail_s":
            note = f"  (p{tail_pct}, n={len(walls)}, {beyond} samples beyond)"
        elif name == "rows_per_s":
            note = f"  (input rows {meta['input_rows']})"
        elif name == "task_s":
            note = "  (core-seconds per round: one op of each kind)"
        print(f"{name} = {val:.6g} {_E2E_UNITS[name]}{note}")
    print(f"error_rate = {error_rate:.6g} fraction  ({failed} of {attempted} ops failed)")
    print(f"peak_rss_mb = {peak_rss_mb:.6g} MB  (VmHWM of the driver JVM and Python)")

    result: dict = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if args.trace:
        _print_overhead(e2e, out_dir, args.workload, args.seed)
        layer = _per_layer(timed, runner, session_s)
        layer["session.peak_rss_mb"] = peak_rss_mb
        _print_layers(timed, layer, out_dir, run_tag)
        result["metrics"] = {k: {"value": layer[k], "unit": unit_of(k)} for k in PER_LAYER}
    else:
        result["metrics"] = {k: {"value": v, "unit": _E2E_UNITS[k]} for k, v in e2e.items()}
    with open(os.path.join(out_dir, f"result-{run_tag}.json"), "w") as f:
        json.dump({"meta": meta, "result": result, "e2e": e2e, "error_rate": error_rate,
                   "peak_rss_mb": peak_rss_mb,
                   "failures": runner.failures,
                   "ops": [r.__dict__ for r in runner.records]}, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


def _per_layer(timed: list, runner: Runner, session_start_s: float) -> dict:
    out = {}
    for name in PER_LAYER:
        if name in GAUGES:
            out[name] = max((r.layer.get(name, 0.0) for r in timed), default=0.0)
        else:
            out[name] = per_round(timed, lambda r, n=name: r.layer.get(n, 0.0))
    out["session.start_s"] = session_start_s
    task = sum(r.layer.get("spark.task_s", 0.0) for r in timed)
    out["spark.core_util"] = task / (sum(r.wall for r in timed) * runner.cores)
    buckets = sum(r.layer.get("functions.lsh_buckets", 0.0) for r in timed)
    verified = sum(r.layer.get("functions.lsh_verified", 0.0) for r in timed)
    out["functions.lsh_useful_ratio"] = verified / buckets if buckets else 0.0
    return out


def _print_overhead(e2e: dict, out_dir: str, workload: str, seed: int) -> None:
    """Tracing overhead: this traced run's end-to-end figures minus those of
    the untraced run of the same workload and seed."""
    path = os.path.join(out_dir, f"result-{workload}-s{seed}-t0.json")
    if not os.path.exists(path):
        print(f"tracing overhead: run --seed {seed} --trace 0 first to compare with")
        return
    with open(path) as f:
        base = json.load(f)["e2e"]
    print(f"tracing overhead vs {os.path.basename(path)} (traced - untraced):")
    for k, v in e2e.items():
        if k in base and base[k]:
            print(f"  {k:16s} {v - base[k]:+.6g} {_E2E_UNITS[k]} ({(v / base[k] - 1) * 100:+.1f}%)")


def _print_layers(timed: list, layer: dict, out_dir: str, run_tag: str) -> None:
    lines = ["per-layer (per round: one op of each kind)"]
    selfs: dict = defaultdict(float)
    kinds: dict = defaultdict(int)
    for r in timed:
        kinds[r.kind] += 1
    for r in timed:
        for k, v in r.layer.get("_self", {}).items():
            selfs[k] += v / kinds[r.kind]
    lines.append("  self time by layer: " + ", ".join(
        f"{k} {v:.4f} s" for k, v in sorted(selfs.items())))
    for name in PER_LAYER:
        lines.append(f"  {name:34s} {layer[name]:.6g} {unit_of(name)}")
    text = "\n".join(lines)
    print(text)
    with open(os.path.join(out_dir, f"layers-{run_tag}.txt"), "w") as f:
        f.write(text + "\n")


if __name__ == "__main__":
    sys.exit(main())
