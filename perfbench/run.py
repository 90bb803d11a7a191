"""Benchmark of the EDFS-Spark engine: one client in a closed loop on
`local[4]`, every timed answer checked.

    python3 perfbench/run.py --workload edfs_shell --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload text_corpus_cold --seed 1 --seconds 20 --trace 1
    python3 perfbench/run.py --workload edfs_shell --seed 1 --seconds 2 --trace 0 --smoke

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the `end_to_end` metrics of BENCHMARK.json,
with `--trace 1` its `per_layer` metrics; the lines before it echo the
seed, the ambient CPU share of the run and every metric with its unit.
`--smoke` shrinks the inputs (2,000 CSV rows, a 120-document corpus) for
a quick end-to-end check. Every run first feeds the answer checks correct
and deliberately wrong answers, and stops if a wrong answer passes.

A run keeps everything it writes (inputs, EDFS warehouse, memo store,
Spark local dirs, temp files) in a private directory under
`.perfbench_run/` in the repository root and deletes it at exit. Only
one run may be active at a time: a run holds a lock on
`.perfbench_run/lock` and refuses to start while another holds it.
"""

from __future__ import annotations

import argparse
import ctypes
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
#: input generations per run; setup_s counts their median
SETUP_REPEATS = 3
#: prctl option: orphaned descendants are re-parented to this process
PR_SET_CHILD_SUBREAPER = 36
#: driver JVM heap cap, below the engine's default of 8g. At 2g the
#: committed heap stays below the cap (at most 1.5 GB) and GC takes 1.5-2%
#: of the JVM's uptime, as at 8g, with the same latencies; at 8g G1 grows
#: the heap further, and peak RSS varies from run to run about twice as
#: much (see README.md, "Isolation").
DRIVER_MEMORY = "2g"

WORKLOADS = ("edfs_shell", "text_corpus_cold")


@dataclass
class Context:
    run_dir: str
    seed: int
    trace: bool
    smoke: bool
    value_hash: object = None


def fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _isolate(run_dir: str) -> None:
    """Point every writer the run starts at the private run directory."""
    for sub in ("scratch", "spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update(
        {
            "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        }
    )
    tempfile.tempdir = tmp


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait for every child to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            pass  # _reap kills it
    _reap()


def _children() -> list[int]:
    """Child processes of this one, exited ones not yet waited for
    included. As a child subreaper this process also adopts every
    descendant whose parent has ended (the Spark JVM's Python workers)."""
    me = str(os.getpid())
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[1] == me:
                    found.append(int(pid))
        except (OSError, IndexError):
            continue
    return found


def _waited() -> None:
    """Collect the exit status of every child that has ended."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _reap(timeout_s: float = 30.0) -> None:
    """Wait for every child to end; stop the ones still running after
    `timeout_s`."""
    deadline = time.time() + timeout_s
    while True:
        _waited()
        if not _children() or time.time() > deadline:
            break
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = _children()
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(1.0)
        _waited()


def _declared() -> tuple[dict[str, str], dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return e2e, layer


def run(args) -> int:
    from perfbench import checks
    from perfbench.harness import Meter, median, quantile
    from perfbench.text_corpus import load_value_hash

    ctx = Context(args.run_dir, args.seed, bool(args.trace), args.smoke)
    ctx.value_hash = load_value_hash(ROOT)
    broken = [k for k, ok in checks.self_test(ctx.value_hash).items() if not ok]
    if broken:
        fail(f"answer-check self-test failed: {broken}", 1)
    e2e_units, layer_units = _declared()

    if args.workload == "edfs_shell":
        from perfbench.edfs_shell import EdfsShellWorkload as W
    else:
        from perfbench.text_corpus import TextCorpusWorkload as W
    wl = W(ctx)

    # ---- set-up: inputs (several times), expected answers, session
    t_setup = time.perf_counter()
    gen_s = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.make_inputs()
        gen_s.append(time.perf_counter() - t0)
    wl.prepare()
    from dsci551_edfs_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        {
            "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_s = time.perf_counter() - t0
    try:
        wl.start(spark)
        setup_s = time.perf_counter() - t_setup - sum(gen_s) + median(gen_s)

        # ---- cold pass, then the measured window of warm operations
        cold_s = wl.cold()
        window = wl.measure(args.seconds, Meter())
        layer = wl.layer_metrics(window)
        tracer, jobs = wl.tracer, wl.jobs
    finally:
        wl.stop()
        _stop_spark(spark)

    all_ops = wl.cold_ops + window.ops
    failed = [o for o in all_ops if not o.ok]
    timed = [o.latency_s for o in window.ops if not o.traced]
    e2e = {
        "setup_s": setup_s,
        "cold_s": cold_s,
        "op_p50_s": median(timed),
        "op_p90_s": quantile(timed, 0.9),
        "ops_per_s": len(window.ops) / window.wall_s,
        "cpu_s_per_op": window.cpu_s / len(window.ops),
        "peak_rss_mb": window.peak_rss_mb,
        "stored_bytes_ratio": wl.stored_bytes_ratio(),
    }
    if ctx.trace:
        # per operation kind, traced median over untraced median; the
        # median of those ratios is insensitive to which kinds were traced
        ratios = []
        for kind in {o.kind for o in window.ops}:
            on = [o.latency_s for o in window.ops if o.kind == kind and o.traced]
            off = [o.latency_s for o in window.ops if o.kind == kind and not o.traced]
            if on and off:
                ratios.append(median(on) / median(off))
        roots = [s for s in tracer.spans if s.parent is None and s.end and s.op is not None and s.op >= 0]
        op_jobs = jobs.within(roots)
        layer.update(
            {
                "session.start_s": session_s,
                "bench.tracing_overhead_frac": median(ratios) - 1,
                "spark.jobs_per_op": len(op_jobs) / len(roots),
                "spark.stages_per_op": sum(j.stages for j in op_jobs) / len(roots),
                "spark.tasks_per_op": sum(j.tasks for j in op_jobs) / len(roots),
                "spark.failed_tasks": sum(j.failed_tasks for j in jobs.jobs.values()),
            }
        )
        tracer.write(os.path.join(os.path.dirname(ctx.run_dir), f"spans_{args.workload}.jsonl"))
        units = layer_units
        unknown = sorted(set(layer) - set(units))
        if unknown:
            fail(f"metrics missing from BENCHMARK.json: {unknown}", 1)
        # a layer this workload never calls did no work: it reads 0
        metrics = {k: layer.get(k, 0.0) for k in units}
    else:
        units = e2e_units
        metrics = {k: e2e[k] for k in units}

    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(
        f"# ops timed={len(window.ops)} cold={len(wl.cold_ops)} failed={len(failed)} "
        f"failed_frac={len(failed) / len(all_ops):.6f} window_s={window.wall_s:.3f} "
        f"ambient_cpu_frac={window.ambient_cpu_frac:.4f}"
    )
    print("# unit wall s: " + " ".join(f"{u:.3f}" for u in window.units))
    for o in failed[:10]:
        print(f"# FAILED {o.kind} {o.detail}")
    kinds: dict[str, list[float]] = {}
    for o in window.ops:
        kinds.setdefault(o.kind, []).append(o.latency_s)
    for kind, lat in sorted(kinds.items()):
        print(f"# op {kind}: n={len(lat)} median={median(lat):.4f} s")
    for o in wl.cold_ops:
        kinds.setdefault("cold " + o.kind, []).append(o.latency_s)
    cold_kinds = {k: v for k, v in kinds.items() if k.startswith("cold ")}
    print("# cold ops: " + ", ".join(f"{k[5:]}={sum(v):.2f}s/{len(v)}" for k, v in cold_kinds.items()))
    for k, v in {**e2e, **layer}.items():
        print(f"# {k} = {v:.6g} {e2e_units.get(k) or layer_units.get(k, '')}")
    result = {
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="EDFS-Spark engine benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="small inputs, for a quick check")
    args = ap.parse_args(argv)

    for need in ("dsci551_edfs_spark", os.path.join("tools", "check_correctness.py"), "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a full checkout", 2)
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    lock = open(os.path.join(base, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        fail("another benchmark run holds the lock", 3)
    args.run_dir = tempfile.mkdtemp(prefix="run_", dir=base)
    try:
        _isolate(args.run_dir)
        # adopt orphaned descendants, so that _reap can wait for each one
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
        return run(args)
    finally:
        shutil.rmtree(args.run_dir, ignore_errors=True)
        lock.close()


if __name__ == "__main__":
    sys.exit(main())
