"""One benchmark run: set up, warm up, measure, check, report.

Run through ``perfbench/run.py``, which prepares the environment; see
``perfbench/README.md`` for the metrics. The result is written as JSON to
the file named by ``--result``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import resource
import statistics
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

sys.path.insert(1, os.getcwd())  # after this directory

import datagen  # noqa: E402
from oracle import Oracle  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS, PipelineMix  # noqa: E402

CHAIN_LEN = 3  # statements in rdf's chain of pattern updates
WARMUP_ROUND = 1_000_000  # round index of the warm-up: its own constants
INPUT_BUILDS = 3  # set-ups of the inputs per untraced run; setup_s takes the median
MAX_MEASURE_S = 90  # no new measured round after this many seconds of the run


class Ctx:
    """State shared by a workload's operations."""

    def __init__(self, args, data_dir: str, scratch: str):
        self.seed = args.seed
        self.data_dir = data_dir
        self.scratch = scratch
        self.spark = None
        self.tracer: Tracer | None = None
        self.oracle: Oracle | None = None
        self.store = None
        self.store_rows = 0
        self.backup_bytes = 0
        self.io_samples: list[tuple[int, float, float]] = []


def _quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(xs: list[float]) -> tuple[float, float]:
    """(quantile, value): the highest quantile with at least ten samples
    beyond it, or the median when fewer than twenty samples leave no such
    quantile above it."""
    q = max(0.5, 1 - 10 / len(xs))
    return q, _quantile(xs, q)


def host_probe() -> dict:
    """Load average, the time of a fixed amount of pure-Python work, and
    the CPU seconds the hypervisor has so far taken from this machine
    (steal): markers of how busy the host was, never used to rescale a
    metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    probe_s = time.perf_counter() - t0
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / _TICK
    return {"loadavg": os.getloadavg(), "probe_s": probe_s, "steal_s": steal}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def jvm_live_mb(spark) -> float:
    """The JVM's memory in use as of its latest garbage collection: each
    heap pool's usage right after the collection, plus non-heap memory
    (class metadata, compiled code) in use now. Unlike the JVM's RSS, it
    does not depend on how far the heap has been grown or touched."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap = 0
    for pool in mf.getMemoryPoolMXBeans():
        after_gc = pool.getCollectionUsage()
        if pool.getType().toString() == "HEAP" and after_gc is not None:
            heap += after_gc.getUsed()
    return (heap + mf.getMemoryMXBean().getNonHeapMemoryUsage().getUsed()) / 2**20


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name: index ``i`` is
    field ``i + 3`` of proc(5)."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


class CpuMeter:
    """CPU seconds used by this run's processes: the driver, the JVM and
    Spark's Python workers, with the children they have reaped, less the
    JVM's JIT compiler threads. Compiling is warm-up work that runs in the
    background and finishes at a different moment in every run; the JVM is
    started with a fixed set of compiler threads so they can be found once.
    """

    def __init__(self, jvm_pid: int):
        self.sid = os.getsid(0)
        task = f"/proc/{jvm_pid}/task"
        self.jit = []
        for tid in os.listdir(task):
            with open(f"{task}/{tid}/comm") as f:
                if f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    self.jit.append(f"{task}/{tid}/stat")

    def read(self) -> float:
        total = 0
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                fields = _stat(f"/proc/{name}/stat")
            except OSError:
                continue
            if int(fields[3]) == self.sid:  # field 6, the session id
                # fields 14-17: utime, stime, cutime, cstime
                total += sum(int(x) for x in fields[11:15])
        for path in self.jit:
            try:
                fields = _stat(path)
            except OSError:
                continue
            total -= int(fields[11]) + int(fields[12])
        return total / _TICK


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def run_round(wl, r: int, samples: list, failures: list, tracer: Tracer, meter: CpuMeter) -> None:
    """Run round ``r``'s operations; time each ``run``, check it after."""
    for op in wl.round(r):
        tracer.op_id = len(samples)
        err = None
        c0 = meter.read()
        t0 = time.perf_counter()
        try:
            with tracer.span("op") as rec:
                if rec is not None:
                    rec.update(op_name=op.name, round=r)
                got = op.run()
        except Exception as ex:  # one failed op is counted, never aborts the run
            err = f"{type(ex).__name__}: {ex}"
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        cpu = meter.read() - c0
        if err is None:
            try:
                err = op.check(got)
            except Exception as ex:
                err = f"check {type(ex).__name__}: {ex}"
                traceback.print_exc(file=sys.stderr)
        samples.append(
            {"op": op.name, "cls": op.cls, "round": r, "s": dt, "cpu": cpu, "error": err}
        )
        print(f"# round {r} {op.name} {dt * 1e3:.0f} ms", file=sys.stderr, flush=True)
        if err:
            failures.append(f"round {r} {op.name}: {err}")
            print(f"# FAILED round {r} {op.name}: {err}", file=sys.stderr)
    tracer.op_id = None


def warm_up(wl, cores: int) -> list[str]:
    """Run the workload's warm-up round, which has constants of its own:
    its independent sequences of operations concurrently (each sequence in
    order), then check every result in round order. Returns the failures.
    Concurrency only shortens set-up: each operation still runs once, so
    every code path it takes is compiled and every first-call cost is paid
    before the closed loop starts."""
    failures = []
    ops = wl.warm_round(WARMUP_ROUND)
    seqs: dict[str, list[int]] = {}
    for j, op in enumerate(ops):
        seqs.setdefault(op.seq or str(j), []).append(j)
    results: dict[int, tuple] = {}

    def run_seq(idx: list[int]) -> None:
        for j in idx:
            t0 = time.perf_counter()
            try:
                results[j] = (ops[j].run(), None)
            except Exception as ex:
                results[j] = (None, f"{type(ex).__name__}: {ex}")
            print(f"# warm-up {ops[j].name} {(time.perf_counter() - t0) * 1e3:.0f} ms",
                  file=sys.stderr, flush=True)

    with ThreadPoolExecutor(max_workers=cores) as pool:
        for fut in [pool.submit(run_seq, idx) for idx in seqs.values()]:
            fut.result()
    for j, op in enumerate(ops):
        got, err = results[j]
        if err is None:
            try:
                err = op.check(got)
            except Exception as ex:
                err = f"check {type(ex).__name__}: {ex}"
        if err:
            failures.append(f"warm-up {op.name}: {err}")
            print(f"# FAILED warm-up {op.name}: {err}", file=sys.stderr)
    return failures


def measure(wl, seconds: float, tracer: Tracer, meter: CpuMeter, deadline: float,
            after_round: Callable[[], None]) -> tuple[list, list, int]:
    """Whole rounds, at least one, until ``seconds`` of timed work; no new
    round starts after ``deadline``.
    ``after_round`` is called after each round, outside the timed region."""
    samples: list = []
    failures: list = []
    r = 0
    while r == 0 or (
        sum(s["s"] for s in samples) < seconds and time.perf_counter() < deadline
    ):
        run_round(wl, r, samples, failures, tracer, meter)
        after_round()
        r += 1
    return samples, failures, r


def round_cpu(samples: list) -> float:
    """CPU seconds per operation of one round: the geometric mean over the
    round's operation classes of each class's mean, so that every class
    weighs the same in relative terms however costly its operations are."""
    classes: dict[str, list] = {}
    for s in samples:
        classes.setdefault(s["cls"], []).append(s["cpu"])
    logs = [math.log(max(sum(c) / len(c), 1 / _TICK)) for c in classes.values()]
    return math.exp(sum(logs) / len(logs))


def summarize(samples: list) -> dict:
    """Wall-clock and CPU figures of a set of operations. ``cpu_ms`` is the
    median over rounds of :func:`round_cpu`: every round has the same mix,
    and one round disturbed by the host moves a median less than a mean."""
    t = [s["s"] for s in samples]
    q, v = tail(t)
    rounds: dict[int, list] = {}
    for s in samples:
        rounds.setdefault(s["round"], []).append(s)
    return {
        "ops": len(t),
        "ops_per_s": len(t) / sum(t),
        "p50_ms": statistics.median(t) * 1e3,
        "tail_pct": q * 100,
        "tail_ms": v * 1e3,
        "cpu_ms": statistics.median(round_cpu(r) for r in rounds.values()) * 1e3,
    }


def class_summary(samples: list) -> dict:
    out = {}
    for cls in sorted({s["cls"] for s in samples}):
        out[cls] = summarize([s for s in samples if s["cls"] == cls])
    return out


# ---------------------------------------------------------------------------
# per-layer metrics from the traced window
# ---------------------------------------------------------------------------


def layer_metrics(spans: list[dict], n_ops: int, extra: dict) -> dict:
    def named(name):
        return [s for s in spans if s["name"] == name]

    def ms(s):
        return (s["end"] - s["start"]) * 1e3

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def per_op(xs):
        return sum(xs) / n_ops

    loads = named("tables.load")
    roots = {s["id"] for s in spans if s["name"] == "op"}
    top = [s for s in spans if s["parent"] in roots and "jobs" in s]
    sinks = [
        s for s in spans
        if s["name"] in ("spark.exec", "store.read_after_write")
        or (s["name"].startswith("queries.") and s["name"].endswith(".exec"))
    ]
    m = {
        "session.start_s": extra["session_start_s"],
        "tables.load_calls": per_op(1 for _ in loads),
        "tables.load_ms": per_op(ms(s) for s in loads),
        "tables.load_jobs": per_op(s["jobs"] for s in loads),
        "plans.text.parse_ms": mean(ms(s) for s in named("plans.text.parse")),
        "plans.bgp.build_ms": mean(ms(s) for s in named("plans.bgp.build")),
        "plans.bgp.build_jobs": mean(s["jobs"] for s in named("plans.bgp.build")),
        "spark.exec_ms": per_op(ms(s) for s in sinks),
        "spark.jobs_per_op": per_op(s["jobs"] for s in top),
        "spark.stages_per_op": per_op(s["stages"] for s in top),
        "spark.tasks_per_op": per_op(s["tasks"] for s in top),
        "spark.failed_tasks": sum(s["failed_tasks"] for s in top),
        "spark.store_cached_fraction": extra["cached_fraction"],
        "plans.update.parse_ms": mean(ms(s) for s in named("plans.update.parse")),
        "store.update_ms": mean(ms(s) for s in named("store.update")),
        "store.update_jobs": mean(s["jobs"] for s in named("store.update")),
        "store.read_after_write_jobs": mean(s["jobs"] for s in named("store.read_after_write")),
        "sources.rdfio.serialize_ms": mean(ms(s) for s in named("sources.rdfio.serialize")),
        "sources.rdfio.parse_ms": mean(ms(s) for s in named("sources.rdfio.parse")),
        "sources.rdfio.read_ms": mean(ms(s) for s in named("sources.rdfio.read")),
        "sources.rdfio.triples_per_s": extra["rdfio_triples_per_s"],
        "store.persist_ms": mean(ms(s) for s in named("store.persist")),
        "store.restore_ms": mean(ms(s) for s in named("store.restore")),
        "store.backup_bytes_per_payload_byte": extra["backup_ratio"],
        "sources.ripplebackup.write_ms": mean(ms(s) for s in named("sources.ripplebackup.write")),
        "sources.ripplebackup.read_ms": mean(ms(s) for s in named("sources.ripplebackup.read")),
        "jvm.gc_ms": extra["gc_ms"] / n_ops,
        "driver.py_cpu_s": extra["cpu_s"] / n_ops,
        "trace.ops_per_s": extra["ops_per_s"],
        "trace.overhead_ratio": extra["overhead_ratio"],
        "trace.self_ms": extra["summary"].get("op", {}).get("self_ms", 0.0) / n_ops,
        "trace.count_mismatches": len(extra["mismatches"]),
    }
    updates = named("store.update")
    for pos in range(1, CHAIN_LEN + 1):
        m[f"store.plan_nodes.pos{pos}"] = mean(s["plan_nodes"] for s in updates if s["pos"] == pos)
    for _, key in PipelineMix.KEYS:
        build, run = named(f"queries.{key}.build"), named(f"queries.{key}.exec")
        m[f"queries.{key}.build_ms"] = mean(ms(s) for s in build)
        m[f"queries.{key}.exec_ms"] = mean(ms(s) for s in run)
        m[f"queries.{key}.jobs"] = mean(s["jobs"] for s in build) + mean(s["jobs"] for s in run)
    return m


def op_signatures(spans: list[dict], r: int) -> dict[str, list]:
    """Per operation of round ``r``: the structural counts (Spark jobs and
    logical-plan nodes of each layer call) that must repeat exactly when
    the same operation runs again warm."""
    roots = {s["id"]: s["op_name"] for s in spans if s["name"] == "op" and s.get("round") == r}
    sig: dict[str, list] = {name: [] for name in roots.values()}
    for s in spans:
        if s["parent"] in roots and "jobs" in s:
            sig[roots[s["parent"]]].append((s["name"], s["jobs"], s.get("plan_nodes")))
    return sig


def instrument(tracer: Tracer) -> None:
    """Spans around the engine functions that its own modules call."""
    import rippledb_spark.plans.text as text_mod
    import rippledb_spark.plans.update as update_mod
    from rippledb_spark import tables

    tracer.patch_everywhere(tables.load, "tables.load", jobs=True)
    tracer.patch(text_mod, "parse_sparql", "plans.text.parse")
    tracer.patch(update_mod, "parse_update", "plans.update.parse")


def traced_run(ctx: Ctx, wl, args, session_start_s: float, meter: CpuMeter, detail: dict):
    """Round 0 three times: traced, traced again, and untraced. The
    per-layer numbers come from the first pass; the structural counts of the
    two traced passes must match exactly; the tracing overhead is the
    untraced pass's ops_per_s over the second traced pass's."""
    spark, tracer = ctx.spark, ctx.tracer
    tracer.enabled = True
    instrument(tracer)
    samples: list = []
    failures: list = []
    gc0, cpu0 = gc_ms(spark), cpu_s()
    run_round(wl, 0, samples, failures, tracer, meter)
    gc1, cpu1 = gc_ms(spark), cpu_s()
    n_window, n_ops = len(tracer.spans), len(samples)
    run_round(wl, 0, samples, failures, tracer, meter)
    tracer.unpatch()
    tracer.enabled = False
    run_round(wl, 0, samples, failures, tracer, meter)
    window = tracer.spans[:n_window]
    first = op_signatures(window, 0)
    again = op_signatures(tracer.spans[n_window:], 0)
    mismatches = [
        {"op": k, "first": first[k], "again": again.get(k)}
        for k in first if first[k] != again.get(k)
    ]
    for mm in mismatches:
        print(f"# COUNT MISMATCH {mm}", file=sys.stderr)

    storage = spark._jsc.sc().getRDDStorageInfo()
    parts = sum(i.numPartitions() for i in storage)
    cached = sum(i.numCachedPartitions() for i in storage)
    backup_ratio = ctx.backup_bytes / ctx.store.footprint_bytes() if ctx.backup_bytes else 0.0
    io = ctx.io_samples[: len(ctx.io_samples) // 3]
    io_s = sum(x[2] for x in io)
    traced = summarize(samples[n_ops: 2 * n_ops])
    untraced = summarize(samples[2 * n_ops:])
    summary = Tracer.summary(window)
    lm = layer_metrics(window, n_ops, {
        "session_start_s": session_start_s,
        "cached_fraction": cached / parts if parts else 0.0,
        "rdfio_triples_per_s": sum(x[0] for x in io) / io_s if io_s else 0.0,
        "backup_ratio": backup_ratio,
        "gc_ms": gc1 - gc0,
        "cpu_s": cpu1 - cpu0,
        "ops_per_s": traced["ops_per_s"],
        "overhead_ratio": untraced["ops_per_s"] / traced["ops_per_s"],
        "summary": summary,
        "mismatches": mismatches,
    })
    tracer.dump(args.spans)
    detail.update(traced=traced, untraced=untraced, span_summary=summary,
                  count_mismatches=mismatches)
    return samples, failures, lm


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    deadline = t_start + MAX_MEASURE_S
    phases: dict[str, float] = {}

    def mark(phase: str) -> None:
        phases[phase] = time.perf_counter() - t_start
        print(f"# {phase} at {phases[phase]:.1f} s", file=sys.stderr, flush=True)
    host_before = host_probe()
    data_dir = os.path.join(args.scratch, "data")
    ctx = Ctx(args, data_dir, args.scratch)
    wl = WORKLOADS[args.workload](ctx)

    # The inputs and the oracle are prepared while the JVM starts.
    prep: dict = {}

    def prepare():
        try:
            prep["rows"] = datagen.generate(data_dir, args.sf, args.seed)
            mark("datagen")
            ctx.oracle = Oracle(data_dir)
            mark("oracle")
        except BaseException as ex:  # re-raised in the main thread
            prep["error"] = ex

    th = threading.Thread(target=prepare)
    th.start()
    from rippledb_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cores=args.cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(args.scratch, "warehouse"),
            # A heap of fixed size: the collector's work per operation then
            # does not depend on how far it chose to grow the heap in a given
            # run. The JIT's compiler threads all start with the JVM and
            # stay, so CpuMeter can leave their CPU time out; compilation is
            # as usual.
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} "
                "-XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )
    session_start_s = time.perf_counter() - t0
    mark("session")
    th.join()
    if "error" in prep:
        raise prep["error"]
    ctx.spark = spark
    tracer = Tracer(spark, enabled=False)
    ctx.tracer = tracer
    meter = CpuMeter(spark._jvm.java.lang.ProcessHandle.current().pid())

    builds = []
    for _ in range(1 if args.trace else INPUT_BUILDS):
        t0 = time.perf_counter()
        wl.build_inputs()
        builds.append(time.perf_counter() - t0)
    mark("inputs")
    t0 = time.perf_counter()
    warm_fail = warm_up(wl, args.cores)
    warmup_s = time.perf_counter() - t0
    mark("warm-up")
    ctx.io_samples.clear()
    setup_s = session_start_s + statistics.median(builds) + warmup_s

    detail: dict = {}
    if args.trace:
        samples, failures, metrics = traced_run(ctx, wl, args, session_start_s, meter, detail)
        rounds = 3
    else:
        live: list[float] = []
        samples, failures, rounds = measure(
            wl, args.seconds, tracer, meter, deadline, lambda: live.append(jvm_live_mb(spark))
        )
        untraced = summarize(samples)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        metrics = {
            "setup_s": setup_s,
            "op_cpu_ms": untraced["cpu_ms"],
            "peak_mem_mb": vm_hwm_mb("self") + max(live),
        }
        detail.update(untraced=untraced, jvm_live_mb=live,
                      peak_rss_mb=vm_hwm_mb("self") + vm_hwm_mb(jvm_pid))

    mark("measured")
    classes = class_summary(samples)
    attempted = len(samples)
    failed = sum(1 for s in samples if s["error"])
    detail.update(
        workload=args.workload, seed=args.seed, sf=args.sf, cores=args.cores,
        trace=args.trace, seconds=args.seconds, rounds=rounds,
        git_commit=git_commit(), spark_version=spark.version,
        python_version=platform.python_version(), table_rows=prep["rows"],
        store_rows=ctx.store_rows, session_start_s=session_start_s,
        input_build_s=builds, warmup_s=warmup_s, warmup_failures=warm_fail,
        phases=phases, classes=classes, failed_ratio=failed / attempted,
        failures=failures[:20], host_before=host_before, host_after=host_probe(),
        samples=[(x["op"], x["round"], round(x["s"] * 1e3, 1), round(x["cpu"] * 1e3))
                 for x in samples],
    )
    if args.workload == "rdf" and ctx.io_samples:
        n = sum(x[0] for x in ctx.io_samples)
        detail["export_triples_per_s"] = n / sum(x[1] for x in ctx.io_samples)
        detail["ingest_triples_per_s"] = n / sum(x[2] for x in ctx.io_samples)
        backups = [s["s"] for s in samples if s["op"] == "roundtrip.backup"]
        detail["backup_roundtrip_s"] = statistics.median(backups)
    result = {
        "correct": failed == 0 and not warm_fail,
        "attempted": attempted,
        "failed": failed,
        # exactly the metrics BENCHMARK.json names, with its units
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec},
    }
    with open(args.result, "w") as f:
        json.dump({"result": result, "detail": detail}, f, indent=1, default=str)
    ctx.oracle.close()
    spark.stop()
    mark("stopped")
    return 0


if __name__ == "__main__":
    sys.exit(main())
