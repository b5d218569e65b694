"""Closed-loop benchmark of the engine, one workload per invocation.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 20 --trace 0

Run from the root of an engine checkout.  One client issues one
operation at a time on ``local[<cores>]``.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

WORKLOADS = ("ctgov_etl", "curation")
SETUPS = 3  # set-ups per run; setup_s is their median
MIN_PASSES = 3  # one cold pass and two warm ones
DRIVER_MEM = "1g"
# Every directory a run writes, all under its own scratch root.
_DIRS = ("tmp", "shm", "local", "warehouse", "eventlog", "counts", "data", "out")


def _isolate(root: str, run_dir: str, trace: bool, cores: int) -> dict[str, str]:
    """Point every scratch location of Spark, the engine and Python at
    ``run_dir`` and make the checkout importable in Python workers."""
    dirs = {d: os.path.join(run_dir, d) for d in _DIRS}
    for d in dirs.values():
        os.makedirs(d)
    # The heap is committed and touched at start-up, so the JVM's share
    # of peak_rss_mb does not depend on when G1 chooses to grow it.
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    submit = [
        "--driver-java-options", java_opts,
        "--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={dirs['eventlog']}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ.update({
        "TMPDIR": dirs["tmp"],
        "SPARK_GRAFT_SCRATCH": dirs["shm"],
        "SPARK_GRAFT_LOCAL_DIR": dirs["local"],
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    })
    tempfile.tempdir = dirs["tmp"]
    return dirs


def _leftovers(dirs: dict[str, str]) -> dict[str, int]:
    """Bytes left in the run's temp and stream-scratch directories,
    by entry-name prefix (the part before the first ``_`` or ``-``)."""
    out: dict[str, int] = {}
    for key in ("tmp", "shm"):
        for entry in os.scandir(dirs[key]):
            prefix = entry.name.replace("-", "_").split("_")[0] + "_"
            size = entry.stat().st_size if entry.is_file() else sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(entry.path) for f in fs
            )
            out[f"{key}/{prefix}*"] = out.get(f"{key}/{prefix}*", 0) + size
    return out


def _drop_session(spark) -> None:
    from ctgov_ai_etl_spark import session

    # The engine remembers shipped sessions by id(); a new session may
    # reuse the id, and every set-up must ship the package again.
    session._SHIPPED_SESSIONS.discard(id(spark))
    spark.stop()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_jvm(timeout_s: float = 60.0) -> None:
    """End the driver JVM and wait for it and every process it started
    (the Python daemon and workers) to exit."""
    from pyspark import SparkContext
    from perfbench.tracing import process_tree

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = gateway.proc
    tree = process_tree(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in tree[1:]:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)


def run(args, root: str, dirs: dict[str, str], cores: int) -> dict:
    from ctgov_ai_etl_spark.session import get_spark
    from perfbench import check, layers, tracing, workloads

    tracer = tracing.Tracer(False)
    wl = workloads.make(args.workload, args.seed, dirs)
    co = check.load_check_oracle(root)

    setup_s = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=str(cores))
        wl.setup(spark)
        setup_s.append(time.perf_counter() - t0)
        if i < SETUPS - 1:
            _drop_session(spark)
    spark.sparkContext.setLogLevel("ERROR")

    listener = None
    if args.workload == "curation":
        listener = tracing.BatchListener()
        spark.streams.addListener(listener)
    if args.trace and args.workload == "ctgov_etl":
        layers.wrap_pipeline(tracer)

    # Passes: the first is cold; with tracing, later passes alternate
    # untraced / traced so the overhead is measured inside one run, and
    # a traced run makes four, so its traced warm pass sits between two
    # untraced ones.  A run makes at least that many passes, then stops
    # at the first pass boundary after --seconds.
    min_passes = 4 if args.trace else MIN_PASSES
    rng = random.Random(args.seed)
    passes: list[dict] = []
    attempted = errors = 0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    t_start = time.perf_counter()
    with tracing.RssSampler(jvm_pid) as rss:
        while len(passes) < min_passes or time.perf_counter() - t_start < args.seconds:
            n = len(passes)
            traced = bool(args.trace) and n % 2 == 0
            tracer.enabled = traced
            rec = {"n": n, "traced": traced, "ops": {}, "start": time.time()}
            with tracer.span("pass", n=n):
                for name in wl.ops(rng):
                    attempted += 1
                    try:
                        with tracer.span("op", query=name):
                            took, info = wl.run_op(spark, name, tracer, traced)
                    except Exception:
                        errors += 1
                        traceback.print_exc()
                        continue
                    rec["ops"][name] = {"s": took, "plan_lines": info.get("plan_lines", 0)}
                    wl.record(name, info, co)
            rec["end"] = time.time()
            rec["s"] = sum(o["s"] for o in rec["ops"].values())
            passes.append(rec)
    tracer.enabled = bool(args.trace)

    extras = {}
    if args.trace and args.workload == "ctgov_etl":
        extras = layers.ctgov_prefixes(spark, wl, tracer)
    if listener is not None:
        tracing.drain_listener_bus(spark)
    _drop_session(spark)
    _stop_jvm()

    mismatched, notes = wl.failures(co)
    for note in notes:
        print(f"MISMATCH {note}", file=sys.stderr)
    failed = errors + mismatched
    warm = [p["s"] for p in passes[1:] if not p["traced"]]
    result = {
        "attempted": attempted,
        "failed": failed,
        "setup_s": statistics.median(setup_s),
        "first_pass_s": passes[0]["s"],
        "pass_s": statistics.median(warm) if warm else float("nan"),
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "passes": passes,
        "setup_runs_s": setup_s,
        "spans": tracer.with_self_times() if tracer.spans else [],
    }
    result["layers"] = layers.per_layer(
        args.workload, wl, passes, tracer, listener, dirs, extras, cores
    )
    return result


E2E_UNITS = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    needed = [os.path.join(root, "ctgov_ai_etl_spark", "__init__.py"),
              os.path.join(root, "tools", "check_oracle.py")]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: not an engine checkout, missing {missing}", file=sys.stderr)
        return 2
    # The script's own directory would shadow packages by module name.
    sys.path[0] = root

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(root, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    dirs = _isolate(root, run_dir, bool(args.trace), cores)
    try:
        res = run(args, root, dirs, cores)
        leftover = _leftovers(dirs)
    finally:
        if "pyspark" in sys.modules:  # also after a failed run
            _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    from perfbench import layers

    print(f"workload={args.workload} seed={args.seed} cores={cores} "
          f"setups_s={[round(s, 3) for s in res['setup_runs_s']]}")
    print(f"passes_s={[round(p['s'], 3) for p in res['passes']]}")
    for name in res["passes"][0]["ops"]:
        print(f"op {name}: " + " ".join(
            f"{p['ops'][name]['s']:.3f}" for p in res["passes"] if name in p["ops"]))
    print(f"{'metric':34s} {'value':>14s} unit")
    table = {k: (res[k], u) for k, u in E2E_UNITS.items()}
    table["failed_ratio"] = (res["failed"] / res["attempted"], "ratio")
    table.update(layers.e2e_extras(args.workload, res["layers"]))
    for k, (v, u) in table.items():
        print(f"{k:34s} {v:14.4f} {u}")
    print("leftover_bytes " + json.dumps(leftover, sort_keys=True))
    if args.trace:
        path = layers.write_span_file(root, args, res, leftover)
        print(f"spans written to {os.path.relpath(path, root)}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["layers"].items()}
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
