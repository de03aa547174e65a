#!/usr/bin/env python3
"""funcify_feature_eng_spark benchmark.

    python3 perfbench/run.py --workload train_pit --seed 1 --seconds 12 --trace 0

Runs one workload (``train_pit``, ``online_lookup``, ``store_cycle``; ``all``
runs the three in turn) on ``local[<cpus>]`` from this checkout, checks
every answer against an independent pandas reference, and prints a readable
report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``setup_s``,
``op_p50_ms``); with ``--trace 1`` every second operation is
traced and the metrics are the per-layer ones. The exit code is non-zero
when any answer is wrong or an operation fails. Inputs are generated from
``--seed`` and cached under ``perfbench/.cache``; scratch files live in
``perfbench/.work`` and are removed at exit. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "funcify_feature_eng_spark"
WORKLOAD_NAMES = ("train_pit", "online_lookup", "store_cycle")
N_SETUPS = 3  # set-ups per run; setup_s is their median
DRIVER_MEM = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the smoke test")
    p.add_argument("--fault", choices=("none", "asof_shift"), default="none",
                   help="corrupt the engine's as-of answers before they are checked "
                        "(shows that the correctness gate fails the run)")
    return p.parse_args(argv)


class Ctx:
    """What a workload sees: the session, tracer, inputs and sinks for
    per-layer figures."""

    def __init__(self, args, work: str) -> None:
        from spans import Tracer

        self.args = args
        self.seed = args.seed
        self.work = work
        self.tracer = Tracer(False)
        self.layers: dict[str, list[float]] = {}
        self.notes: dict[str, str] = {}
        self.op_traced = False
        self.plan: list[tuple[float, dict]] = []
        self.spark = None

    def layer(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(float(value))

    def note(self, name: str, value: str) -> None:
        self.notes[name] = value

    def stopwatch(self):
        from obs import Stopwatch

        return Stopwatch(self.jvm_pid)

    def before_action(self, df) -> None:
        """Traced operations: plan the DataFrame once more to time physical
        planning and count its exchanges, sorts and broadcasts."""
        if self.op_traced:
            from obs import plan_operators

            with self.tracer.span("catalyst"):
                self.plan.append(plan_operators(df))


def _start_session(ctx: Ctx, name: str):
    from funcify_feature_eng_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ctx.work, "local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        # a fixed heap: heap growth in the first operations would otherwise
        # show up as a downward drift of their latency; no perf-data files
        # outside the checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')} -Xms{DRIVER_MEM} -XX:-UsePerfData"
        ),
    }
    if ctx.args.trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(ctx.work, "events")
        # one plain JSON-lines file per application, readable without codecs
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(f"perfbench-{name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Stop the session, then the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone; the JVM is what matters
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# the layers a timed operation calls into (session, sources.tables and
# functions are only called during set-up and have their own metrics)
LAYER_SPANS = ("plans.graphql", "plans.document", "plans.model", "store", "catalyst", "spark")


def run_workload(args, work: str) -> int:
    from data import ensure_inputs, load_tables
    from obs import (
        JobGroups, cpu_ticks, environment, event_log_totals, p90, steal_share, vm_hwm_mb,
    )
    from workloads import WORKLOADS

    import_s = time.perf_counter() - _T_PROCESS
    ctx = Ctx(args, work)
    phases: dict[str, float] = {"imports": import_s}
    t_phase = time.perf_counter()
    ctx.inputs = ensure_inputs(os.path.join(HERE, ".cache"), args.seed, args.scale)
    ctx.tables = load_tables(ctx.inputs)
    wl = WORKLOADS[args.workload](ctx)  # builds the pandas reference
    phases["inputs_and_reference"] = time.perf_counter() - t_phase

    attempted = failed = 0
    problems: list[str] = []

    def record(p: list[str]) -> None:
        nonlocal attempted, failed
        attempted += 1
        if p:
            failed += 1
            problems.extend(p[:8])

    # ---- set-up, N_SETUPS times on a fresh session each time
    setups, session_starts = [], []
    for k in range(N_SETUPS):
        if k:
            ctx.spark.stop()
        ctx.tracer.enabled = bool(args.trace)
        t0 = time.perf_counter()
        with ctx.tracer.span("session"):
            ctx.spark = _start_session(ctx, args.workload)
        session_starts.append(time.perf_counter() - t0)
        ctx.groups = JobGroups(ctx.spark.sparkContext, f"pb{k}")
        ctx.jvm_pid = ctx.spark.sparkContext._gateway.proc.pid
        wl.setup(ctx)
        setups.append(time.perf_counter() - t0 + (import_s if k == 0 else 0.0))
    phases["setups"] = sum(setups) - import_s
    env = environment(args.seed, int(os.environ["SPARK_GRAFT_CPUS"]), DRIVER_MEM,
                      ctx.spark.sparkContext._jvm.java.lang.System.getProperty(
                          "java.runtime.version"))
    t_phase = time.perf_counter()

    if args.fault != "none":
        wl.inject_fault()
    checked = wl.verify(ctx)
    if checked is not None:
        record(checked)
    phases["verify"] = time.perf_counter() - t_phase

    # ---- the measured loop: closed, one operation at a time
    ctx.tracer.spans.clear()
    ops, traced_ops, untraced_ops, groups = [], [], [], []
    stats = {"jobs": [], "stages": [], "tasks": [], "failed_tasks": []}
    t_phase = time.perf_counter()
    cpu_before = cpu_ticks()
    deadline = t_phase + args.seconds
    i = 0
    while time.perf_counter() < deadline:
        ctx.op_traced = ctx.tracer.enabled = bool(args.trace) and i % 2 == 1
        ctx.tracer.request = f"op-{i}"
        with ctx.groups.group(wl.name) as gid:
            try:
                res = wl.op(ctx, i)
            except Exception:
                res = False
                record([f"operation {i} raised:\n{traceback.format_exc(limit=6)}"])
        ctx.tracer.enabled = False
        if res is None:
            break
        i += 1
        if res is False:
            if failed > 3:
                break
            continue
        record(res.problems)
        ops.append(res)
        (traced_ops if ctx.op_traced else untraced_ops).append(res)
        if ctx.op_traced:
            groups.append(gid)
        js = ctx.groups.stats(gid)
        for f in stats:
            stats[f].append(getattr(js, f))
        for name, v in res.layers.items():
            if ctx.op_traced or not args.trace:
                ctx.layer(name, v)
    ctx.op_traced = False
    phases["measured"] = time.perf_counter() - t_phase
    env["steal_share"] = steal_share(cpu_before, cpu_ticks())
    t_phase = time.perf_counter()
    if not ops:
        record(["no operation completed within the run"])

    if args.trace:
        ctx.tracer.enabled = True
        ctx.tracer.request = "diagnose"
        wl.diagnose(ctx)
        ctx.tracer.enabled = False
    if ops:
        finished = wl.finish(ctx)
        if finished is not None:
            record(finished)

    phases["finish"] = time.perf_counter() - t_phase
    mem_jvm, mem_py = vm_hwm_mb(ctx.jvm_pid), vm_hwm_mb()
    t_phase = time.perf_counter()
    _stop_jvm()
    phases["stop"] = time.perf_counter() - t_phase

    timed = untraced_ops if args.trace else ops
    secs = [o.seconds for o in timed]
    cpus = [o.cpu_s for o in timed]
    e2e = {
        "setup_s": (_median(setups), "s", len(setups)),
        "op_p50_ms": (_median(secs) * 1000.0, "ms", len(secs)),
    }
    # the 90th percentile is reported, not bounded: with a few dozen
    # operations per run its run-to-run spread is close to any usable bound
    named = {"op_p90_ms": (p90(secs) * 1000.0, "ms", len(secs))}
    named.update(wl.summary(timed) if timed else {})
    named["op_cpu_ms"] = (_median(cpus) * 1000.0, "ms", len(cpus))

    metrics: dict[str, dict] = {}
    if args.trace:
        metrics = _layer_metrics(ctx, wl, named, session_starts, stats, traced_ops,
                                 untraced_ops, groups,
                                 event_log_totals(os.path.join(work, "events")), mem_jvm, mem_py)
        os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
        ctx.tracer.write(os.path.join(
            HERE, ".results", f"spans-{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}

    correct = failed == 0
    _report(args, env, e2e, named, stats, ctx.notes, attempted, failed, problems, phases,
            [(o.seconds, o.cpu_s) for o in ops])
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def _layer_metrics(ctx, wl, named, session_starts, stats, traced, untraced, groups, events,
                   mem_jvm, mem_py) -> dict:
    def one(name):
        return _median(ctx.layers.get(name, []))

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (_median(session_starts[1:]), "s")
    m["session.cold_start_s"] = (session_starts[0], "s")
    m["graphql.lower_ms"] = (one("graphql.lower_ms"), "ms")
    m["graphql.validate_ms"] = (one("graphql.validate_ms"), "ms")
    m["model.compile_ms"] = (one("model.compile_ms"), "ms")
    m["model.materialize_build_ms"] = (one("model.materialize_build_ms"), "ms")
    n_all = len(traced) + len(untraced)
    share = wl.repeat_share(n_all) if hasattr(wl, "repeat_share") else 0.0
    m["online.repeat_shape_share"] = (share, "ratio")
    plans = ctx.plan
    m["catalyst.plan_ms"] = (_median([p[0] for p in plans]), "ms")
    for k in ("exchanges", "sorts", "broadcasts"):
        m[f"plan.{k}"] = (_median([p[1][k] for p in plans]), "count")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = (_median(stats[k]), "count")
    m["spark.failed_tasks"] = (float(sum(stats["failed_tasks"])), "count")
    per_op = [events.get(g) for g in groups if g in events]
    units = {"executor_cpu_s": "s", "gc_s": "s"}
    for k in ("input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "executor_cpu_s", "gc_s"):
        m[f"spark.{k}"] = (_median([e[k] for e in per_op]), units.get(k, "bytes"))
    m["windows.stage_s"] = (one("windows.stage_s"), "s")
    m["asof.stage_s"] = (one("asof.stage_s"), "s")
    m["asof.choose_ms"] = (one("asof.choose_ms"), "ms")
    m["functions.jq_compile_ms"] = (one("functions.jq_compile_ms"), "ms")
    for k in ("publish_s", "read_through_s", "read_growth", "compact_s", "bytes_per_value",
              "files", "rows_before_compact", "rows_after_compact"):
        unit = {"read_growth": "ratio", "bytes_per_value": "bytes"}.get(
            k, "s" if k.endswith("_s") else "count")
        m[f"store.{k}"] = (one(f"store.{k}"), unit)
    for k, report_name in (("train.rows_per_s", "train_rows_per_s"),
                           ("store.publish_rows_per_s", "publish_rows_per_s"),
                           ("store.read_through_rows_per_s", "readthrough_rows_per_s")):
        m[k] = (named.get(report_name, (0.0,))[0], "rows/s")
    m["process.op_cpu_ms"] = (named["op_cpu_ms"][0], "ms")
    m["mem.driver_jvm_peak_mb"] = (mem_jvm, "MB")
    m["mem.python_peak_mb"] = (mem_py, "MB")
    op_spans = [s for s in ctx.tracer.spans if s.request.startswith("op-")]
    n_traced = max(len(traced), 1)
    selfs = ctx.tracer.self_times() if op_spans else {}
    if op_spans:
        saved = ctx.tracer.spans
        ctx.tracer.spans = op_spans
        selfs = ctx.tracer.self_times()
        ctx.tracer.spans = saved
    for layer in LAYER_SPANS:
        m[f"self.{layer}_ms"] = (selfs.get(layer, 0.0) * 1000.0 / n_traced, "ms")
    t_med = _median([o.seconds for o in traced]) * 1000.0
    u_med = _median([o.seconds for o in untraced]) * 1000.0
    m["trace.overhead_ms"] = (t_med - u_med, "ms")
    m["trace.overhead_share"] = ((t_med - u_med) / u_med if u_med else 0.0, "ratio")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def _report(args, env, e2e, named, stats, notes, attempted, failed, problems, phases,
            op_secs) -> None:
    out = sys.stdout
    out.write(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
              f"trace={args.trace} scale={args.scale}\n")
    out.write("env " + json.dumps(env) + "\n")
    for k, (v, u, n) in e2e.items():
        out.write(f"  {k:<24} {v:>14.4f} {u:<7} n={n}\n")
    for k, (v, u, n) in named.items():
        out.write(f"  {k:<24} {v:>14.4f} {u:<7} n={n} ({args.workload})\n")
    err = failed / attempted if attempted else 1.0
    out.write(f"  {'error_rate':<24} {err:>14.4f} {'ratio':<7} "
              f"attempted={attempted} failed={failed}\n")
    if stats["jobs"]:
        out.write("  per operation: jobs={} stages={} tasks={} failed_tasks={}\n".format(
            _median(stats["jobs"]), _median(stats["stages"]), _median(stats["tasks"]),
            sum(stats["failed_tasks"])))
    for k, v in notes.items():
        out.write(f"  {k} = {v}\n")
    out.write("  operation seconds (wall/cpu): "
              + " ".join(f"{w:.3f}/{c:.2f}" for w, c in op_secs) + "\n")
    out.write("  wall seconds by phase: " + " ".join(f"{k}={v:.1f}" for k, v in phases.items())
              + "\n")
    for p in problems[:20]:
        out.write(f"WRONG: {p}\n")
    out.flush()


def run_all(args) -> int:
    """Run every workload, each in its own process, one after another."""
    code = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", args.scale, "--fault", args.fault]
        code = max(code, subprocess.run(cmd, check=False).returncode)
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found next to {HERE}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(1, ROOT)  # after perfbench/, so its own modules win
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the launcher JVM of spark-submit: no files outside the checkout
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH")))),
    })
    try:
        return run_workload(args, work)
    finally:
        _stop_jvm_quietly()
        shutil.rmtree(work, ignore_errors=True)


def _stop_jvm_quietly() -> None:
    if "pyspark" in sys.modules:
        try:
            _stop_jvm()
        except Exception:  # already stopped, or never started
            pass


if __name__ == "__main__":
    sys.exit(main())
