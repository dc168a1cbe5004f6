"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload fixpoint --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository.  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics listed in ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``).  The lines before
it give every number measured, listed or not, for a reader, labelled with
the core count.  Everything the run writes goes under ``.perfbench_work/``
in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import WORKLOADS  # noqa: E402  (needs the path above)

DRIVER_MEM = "2g"
# Untimed passes before measuring, and the fewest measured passes.  The
# second warm-up pass lowered the spread between runs more than a second
# measured pass did (README.md, "Budget").
WARMUP_PASSES = 2
MEASURED_PASSES = 1


def process_age_s() -> float:
    """Seconds since this process started (kernel clock-tick resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def pin_environment(work: str, cores: int) -> None:
    """Everything the Spark driver, JVM and Python workers inherit."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # workers import the program (mapInPandas and friends)
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # no console progress bar; JVM temp files in the checkout, and no
        # hsperfdata file (which ignores java.io.tmpdir), for the driver JVM
        # and for the launcher JVM that spark-submit starts before it
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp}' pyspark-shell"
        ),
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    tempfile.tempdir = tmp  # tempfile caches its directory on first use


def peak_rss_mb(jvm_pid: int) -> float:
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                   help="local[N] width (default: the CPUs this process may use)")
    p.add_argument("--spans-out", metavar="JSON",
                   help="with --trace 1, also write the traced passes' spans here")
    args = p.parse_args(argv)

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not (os.path.isfile(os.path.join(ROOT, "bigdataminingproject_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"no program to benchmark under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = {m["name"] for m in json.load(fh)["per_layer" if args.trace else "end_to_end"]}

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        pin_environment(work, args.cores)
        result = run(args, work, listed)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


def run(args, work: str, listed: set[str]) -> dict:
    # -- set-up: process start to a session that has run a trivial action
    t0 = time.perf_counter()
    from bigdataminingproject_spark.session import get_spark

    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    setup_s = process_age_s()
    jvm = spark.sparkContext._gateway.proc

    wl = WORKLOADS[args.workload](work, args.seed)
    try:
        wl.prepare()
        tracer = None
        if args.trace:
            from layers import install

            tracer = install(spark)
        span = tracer.span if tracer else (lambda *_: contextlib.nullcontext())

        ops = []
        # warm-up: caches, JIT, codegen; a traced run warms up once more so
        # its untraced and traced passes are equally warm
        for _ in range(WARMUP_PASSES + args.trace):
            ops += wl.run_pass(spark, span)
        wl.ready()
        untraced, traced, layer_runs, measured = [], [], [], []
        t_begin = time.perf_counter()
        while True:
            use_trace = tracer is not None and len(traced) < len(untraced)
            if tracer:
                tracer.enabled = use_trace
            with span("pass", args.workload):
                pass_ops = wl.run_pass(spark, span)
            ops += pass_ops
            measured.append(pass_ops)
            wall = sum(o.seconds for o in pass_ops)
            if use_trace:
                traced.append(wall)
                layer_runs.append(tracer.take())
                tracer.enabled = False
            else:
                untraced.append(wall)
            done = (time.perf_counter() - t_begin >= args.seconds
                    and len(untraced) >= MEASURED_PASSES)
            if done and (tracer is None or traced):
                break
        rss = peak_rss_mb(jvm.pid)
        errors = [(o.name, o.check()) for o in ops]
    finally:
        wl.close()
        stop_spark(spark, jvm)

    failed = [(name, e) for name, e in errors if e]
    for name, e in failed:
        print(f"FAILED {name}: {e}", file=sys.stderr)
    wall_s = statistics.median(untraced)
    cores = os.environ["SPARK_GRAFT_CPUS"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "rows_per_s": (wl.input_rows / wall_s, "1/s"),
    }
    print(f"# workload={args.workload} seed={args.seed} cores={cores} "
          f"master=local[{cores}] driver_mem={DRIVER_MEM} input_rows={wl.input_rows} "
          f"passes={len(untraced)} traced_passes={len(traced)}")
    print(f"# error_rate {len(failed) / len(ops):.4f} ({len(failed)} of {len(ops)} operations) [local[{cores}]]")
    print("# pass_s " + " ".join(f"{w:.3f}" for w in untraced))
    for i, o in enumerate(measured[0]):
        print(f"# op_s {o.name} " + " ".join(f"{p[i].seconds:.3f}" for p in measured))
    if tracer is None:
        metrics = e2e
        # per-layer: it does not repeat within a tenth from run to run
        print(f"# peak_rss_mb {rss:.6g} MB (driver Python + JVM) [local[{cores}]]")
    else:
        from layers import layer_metrics

        metrics = layer_metrics(layer_runs, session_start_s,
                                statistics.median(traced) - wall_s, rss)
        if args.spans_out:
            with open(args.spans_out, "w") as fh:
                json.dump([[dataclasses.asdict(s) for s in spans] for spans in layer_runs], fh)
    for name, (value, unit) in metrics.items():
        print(f"# {name} {value:.6g} {unit} [local[{cores}]]")
    missing = listed - metrics.keys()
    if missing:
        raise SystemExit(f"listed metrics not measured: {sorted(missing)}")
    return {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items() if k in listed},
    }


def stop_spark(spark, jvm) -> None:
    """Stop the session, then the JVM (and with it the Python workers)."""
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()


if __name__ == "__main__":
    sys.exit(main())
