"""xema_spark benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload validate_and_stream --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. `--trace 0` prints the end-to-end metrics
of BENCHMARK.json; `--trace 1` prints the per-layer metrics, taken from a
second, traced measurement in the same process (event log on, spans around
the engine's public functions). The last stdout line is the result; the line
before it records the host. Everything the run writes stays under
`perfbench/.work/` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# name -> unit; every one is reported for every workload. The operation
# metrics count CPU seconds (see `cpu_s`), not wall seconds: on a shared VM
# the wall time of the same code moved by up to 1.8x with the CPU time the
# hypervisor stole, the CPU time several times less. The wall-time figures
# stay in the result file.
E2E = {
    "setup_s": "s",
    "op_cpu_p50_s": "s",
    "docs_per_cpu_s": "docs/s",
}

# Per-layer catalogue: span -> the counters that can move for it. Driver-only
# spans submit no Spark jobs; leaf spans have self time == wall time.
_JOB_FIELDS = ("wall_s", "jobs", "task_cpu_s", "shuffle_bytes", "io_bytes", "sched_wait_s")
SPAN_FIELDS = {
    "rules.normalize": ("wall_s",),
    "compiler.compile_rule": ("wall_s",),
    **{s: _JOB_FIELDS for s in (
        "runner.scan", "runner.commit", "runner.violations", "stats.profile",
        "streaming.replay_probe", "runner.verdict_write", "runner.commit_lineage",
        "dedup.near_dup", "pipeline.output")},
    **{s: _JOB_FIELDS + ("self_s",) for s in (
        "pipeline.gate", "query.compiler", "query.formats", "query.interpreter",
        "query.cast")},
    "op": _JOB_FIELDS,
}
FIELD_UNITS = {"wall_s": "s", "self_s": "s", "task_cpu_s": "s", "sched_wait_s": "s",
               "jobs": "count", "shuffle_bytes": "B", "io_bytes": "B"}
EXTRA_LAYER = {
    "stats.rescan_ratio": "ratio",
    "runner.stored_bytes_per_doc": "B/doc",
    "jvm.peak_rss_mb": "MB",
    "driver.peak_rss_mb": "MB",
    "trace_overhead_frac": "ratio",
}
SETUP_REPEATS = 3


def per_layer_units() -> dict[str, str]:
    out = {f"{s}.{f}": FIELD_UNITS[f] for s, fs in SPAN_FIELDS.items() for f in fs}
    out.update(EXTRA_LAYER)
    return out


# ---------------------------------------------------------------------------
# host and session
# ---------------------------------------------------------------------------

def spin_s(n: int = 1_000_000) -> float:
    """A fixed single-core loop: a noisy host shows up as a slower spin."""
    t = time.perf_counter()
    x = 0
    for i in range(n):
        x += i & 7
    return time.perf_counter() - t


def steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over this VM's CPUs
    since boot (0 where the kernel does not report it)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


_JVM_PID: list[int] = []   # set once the session is up
_JIT = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        head, rest = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def cpu_s() -> float:
    """CPU time of this process plus the JVM and every process under it
    (the Python UDF workers), all threads except the JIT compiler's: the
    kernel charges no task for time the hypervisor stole, so unlike wall
    time this does not grow when the shared host is busy, and compiling is
    warm-up, not the cost of the operation that happens to run meanwhile."""
    total = time.process_time()
    if not _JVM_PID:
        return total
    tick = os.sysconf("SC_CLK_TCK")
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                _, rest = _stat(f"/proc/{d}/stat")
            except OSError:
                continue
            procs[int(d)] = (int(rest[1]), (int(rest[11]) + int(rest[12])) / tick)
    jvm = _JVM_PID[0]
    tree = {jvm}
    grew = True
    while grew:
        below = {pid for pid, (ppid, _) in procs.items() if ppid in tree} - tree
        tree |= below
        grew = bool(below)
    total += sum(procs[pid][1] for pid in tree if pid in procs)
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            name, rest = _stat(f"/proc/{jvm}/task/{tid}/stat")
        except OSError:
            continue
        if name.startswith(_JIT):
            total -= (int(rest[11]) + int(rest[12])) / tick
    return total


def cores() -> int:
    """Spark task threads: half the CPUs, at most 4. The other half runs the
    driver thread (where most of the time of these small operations goes),
    the JIT compiler and GC; with a task thread per CPU, a run on a shared
    host measures the scheduler more than the engine."""
    return max(1, min(len(os.sched_getaffinity(0)) // 2, 4))


def start_session(event_log: str | None = None):
    from xema_spark.session import get_spark

    tmp = os.path.join(WORK, "run", "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Dio.netty.tryReflectionSetAccessible=true -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    n = cores()
    return get_spark(app_name="perfbench", master=f"local[{n}]",
                     shuffle_partitions=max(n, 4), extra_conf=conf)


def stop_session() -> None:
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()


def shutdown_jvm() -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    stop_session()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_record(spark) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "driver_mem": os.environ["XEMA_SPARK_DRIVER_MEM"],
        "loadavg": list(os.getloadavg()),
    }


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------

def run_round(rnd, tracer=None, base_index=0) -> tuple[list[dict], float]:
    """Time each operation of a round, then check the outputs. Returns the
    records and the wall time of the operations alone."""
    from workloads import CheckFailed

    outcomes = []
    for op in rnd.ops:
        ctx = (tracer.span(op.span, op_index=base_index + len(outcomes))
               if tracer else nullcontext())
        with ctx:
            if tracer and op.first_phase:
                tracer.switch(op.first_phase)
            c = cpu_s()
            t = time.perf_counter()
            try:
                res, err = op.run(), None
            except Exception as e:  # a failed operation is counted, not fatal
                res, err = None, f"{type(e).__name__}: {e}"[:500]
            lat = time.perf_counter() - t
            outcomes.append((lat, cpu_s() - c, res, err))
    recs = []
    for op, (lat, cpu, res, err) in zip(rnd.ops, outcomes):
        if err is None:
            try:
                op.check(res)
            except CheckFailed as e:
                err = f"check: {e}"[:500]
        recs.append({"span": op.span, "index": op.index, "latency_s": lat, "cpu_s": cpu,
                     "docs": op.docs, "ok": err is None, "error": err})
    try:
        rnd.finish()
    except CheckFailed as e:
        for r in recs:
            r.update(ok=False, error=f"round check: {e}"[:500])
    stored = rnd.stored_bytes()
    for r in recs:
        r["stored_bytes"] = stored / len(recs)
    return recs, sum(lat for lat, _, _, _ in outcomes)


def timed_loop(w, seconds: float, tracer=None) -> list[dict]:
    """Whole rounds until `seconds` have passed."""
    recs: list[dict] = []
    rounds = w.rounds()
    t0 = time.perf_counter()
    while True:
        recs += run_round(next(rounds), tracer, len(recs))[0]
        if time.perf_counter() - t0 >= seconds:
            return recs


def summarize(recs: list[dict]) -> dict:
    ok = [r for r in recs if r["ok"]]
    lat = [r["latency_s"] for r in ok]
    return {
        "op_p50_s": statistics.median(lat) if lat else float("nan"),
        "docs_per_s": sum(r["docs"] for r in ok) / sum(r["latency_s"] for r in recs),
        "op_cpu_p50_s": statistics.median(r["cpu_s"] for r in ok) if ok else float("nan"),
        "docs_per_cpu_s": sum(r["docs"] for r in ok) / sum(r["cpu_s"] for r in recs),
        "ops": len(recs),
    }


def per_index_series(recs: list[dict]) -> list[float]:
    """Mean micro-batch commit latency by batch index."""
    by: dict[int, list[float]] = {}
    for r in recs:
        if r["span"] == "streaming.commit_micro_batch":
            by.setdefault(r["index"], []).append(r["latency_s"])
    return [statistics.fmean(by[k]) for k in sorted(by)]


def layer_metrics(tracer, jobs, sqls) -> tuple[dict, list]:
    """Every catalogue counter, as a mean per operation that opens the span:
    a `run_validation` phase per batch call, a micro-batch phase per
    micro-batch, a curate phase per `curate` call, a query group per query
    of the group; `op.*` per operation of any kind."""
    from spans import fold, split_by_writes, subtree_totals

    spans = split_by_writes(tracer.spans, "runner.write", sqls,
                            (("runner.scan", "verdicts"), "runner.commit",
                             ("runner.violations", "violations")))
    stats = fold(spans, jobs)
    sums: dict[str, dict[str, float]] = {}
    ops_with: dict[str, set] = {}

    def add(key, st, op):
        acc = sums.setdefault(key, {})
        for f in FIELD_UNITS:
            acc[f] = acc.get(f, 0.0) + getattr(st, f)
        ops_with.setdefault(key, set()).add(op)

    for s in spans:
        if s.parent is None:
            add("op", subtree_totals(spans, stats, s.id), s.op_index)
        add(s.name, stats[s.id], s.op_index)
    out = {}
    for span, fields in SPAN_FIELDS.items():
        n = len(ops_with.get(span, ()))
        for f in fields:
            out[f"{span}.{f}"] = sums.get(span, {}).get(f, 0.0) / n if n else 0.0
    scan_io = sums.get("runner.scan", {}).get("io_bytes", 0.0)
    out["stats.rescan_ratio"] = (sums.get("stats.profile", {}).get("io_bytes", 0.0) / scan_io
                                 if scan_io else 0.0)
    dump = [{"id": s.id, "name": s.name, "parent": s.parent, "op": s.op_index,
             "start": s.start, "end": s.end, **vars(stats[s.id])} for s in spans]
    return out, dump


def traced_measurement(w, spark, log_dir: str, seconds: float) -> tuple[dict, dict]:
    """Measure with the span wrappers installed (the session was started
    with the event log on and is warm), fold the log into per-layer
    counters, then restart the context without the log and measure once
    more for the tracing overhead. That untraced measurement runs last, in
    the same (warmer) JVM but a fresh context with no warm-up round of its
    own; the two effects pull the overhead in opposite directions."""
    from types import SimpleNamespace

    from spans import Patches, Tracer, read_event_log
    from xema_spark import compiler, dedup, runner, stats, streaming

    sc = spark.sparkContext
    tracer = Tracer(lambda g: sc.setJobGroup(g, g) if g else sc.setLocalProperty(
        "spark.jobGroup.id", None))
    patches = Patches()
    mods = SimpleNamespace(compiler=compiler, dedup=dedup, runner=runner,
                           stats=stats, streaming=streaming)
    try:
        for modules, attr, hooks in w.hooks(mods):
            patches.wrap(tracer, modules, attr, hooks)
        recs = timed_loop(w, seconds, tracer)
    finally:
        tracer.enabled = False
        patches.restore()
    jvm_mb = jvm_peak_rss_mb(spark)
    spark.stop()
    (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    jobs, sqls = read_event_log(log)
    layers, dump = layer_metrics(tracer, jobs, sqls)
    layers["jvm.peak_rss_mb"] = jvm_mb
    docs = sum(r["docs"] for r in recs)
    layers["runner.stored_bytes_per_doc"] = sum(r["stored_bytes"] for r in recs) / docs

    w.prepare(start_session())
    untraced = timed_loop(w, seconds)
    layers["trace_overhead_frac"] = (summarize(recs)["op_cpu_p50_s"]
                                     / summarize(untraced)["op_cpu_p50_s"] - 1.0)
    return layers, {"records": recs, "untraced": untraced, "spans": dump}


def result_line(values: dict, units: dict, checked: list[dict]) -> dict:
    """The result object: every metric of `units`, and the operation count
    (warm-up included) with how many raised or failed their check."""
    failed = sum(not r["ok"] for r in checked)
    return {
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "xema_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no xema_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ.setdefault("XEMA_SPARK_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")

    t_run = time.perf_counter()
    spin_before, steal_before = spin_s(), steal_s()
    log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    try:
        t = time.perf_counter()
        spark = start_session(event_log=log_dir)
        session_s = time.perf_counter() - t
        host = host_record(spark)
        _JVM_PID[:] = [spark._jvm.java.lang.ProcessHandle.current().pid()]
        host["spin_before_s"] = spin_before

        w = WORKLOADS[args.workload](args.seed, os.path.join(run_dir, "w"),
                                     os.path.join(WORK, "oracle-cache"))
        setup_times = []
        for k in range(SETUP_REPEATS):
            root = os.path.join(run_dir, f"setup{k}")
            t = time.perf_counter()
            w.setup(spark, root)
            setup_times.append(time.perf_counter() - t)
            if k < SETUP_REPEATS - 1:
                shutil.rmtree(root)
        t = time.perf_counter()
        w.verify_setup()
        verify_s = time.perf_counter() - t
        w.prepare(spark)
        warm, warm_s = run_round(w.warm_round())
        e2e = {"setup_s": session_s + statistics.median(setup_times) + warm_s}
        detail = {"setup_times_s": setup_times, "session_s": session_s, "verify_s": verify_s,
                  "warm_s": warm_s, "warm": warm}
        if args.trace:
            layers, tdetail = traced_measurement(w, spark, log_dir, args.seconds)
            layers["driver.peak_rss_mb"] = resource.getrusage(
                resource.RUSAGE_SELF).ru_maxrss / 1024.0
            checked = warm + tdetail["records"] + tdetail["untraced"]
            recs = tdetail.pop("records")
            detail.update(tdetail)
            values, units = layers, per_layer_units()
        else:
            recs = timed_loop(w, args.seconds)
            e2e.update(summarize(recs))
            checked = warm + recs
            values, units = e2e, E2E
        detail.update(records=recs, latency_by_index_s=per_index_series(recs))
    finally:
        shutdown_jvm()
    host["spin_after_s"] = spin_s()
    host["steal_s"] = steal_s() - steal_before
    host["run_wall_s"] = time.perf_counter() - t_run
    host["loadavg_after"] = list(os.getloadavg())

    result = result_line(values, units, checked)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"args": vars(args), "host": host, "e2e": e2e, "result": result,
                   "detail": detail}, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    errors = sorted({r["error"] for r in checked if r["error"]})
    for e in errors[:5]:
        print(f"perfbench: failed operation: {e}", file=sys.stderr)
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
