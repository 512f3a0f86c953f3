#!/usr/bin/env python3
"""bear_spark benchmark: one command, three workloads, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run starts one Spark session on
``local[<cpus>]`` with a heap sized from /proc/meminfo, generates its
inputs from ``--seed``, sets the workload up several times, then repeats
rounds of the workload until ``--seconds`` have passed. Outputs are
checked against independent oracles after the timed region. The last
stdout line is one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics, from rounds run with span wrappers installed, and the
tracing overhead against the untraced rounds of the same run. The line
before it is a fuller human-readable report (every headline metric
with its unit, percentile and sample count).

All scratch data lives under ``.perfbench_work/`` in the working
directory and is removed at exit. A traced run writes its spans as JSON
to ``.perfbench_spans/<workload>-<seed>-<run id>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
#: where a traced run leaves its spans, relative to the working directory
SPANS_DIR = ".perfbench_spans"


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


def _host() -> tuple[int, str]:
    """Cores from the CPU affinity mask (what ``nproc`` reports) and a
    driver heap of 40% of physical memory, at most half of what is
    available now, at least 1 GB."""
    cores = len(os.sched_getaffinity(0))
    kb = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            kb[k] = int(v.split()[0])
    gb = min(0.4 * kb["MemTotal"], 0.5 * kb.get("MemAvailable", kb["MemTotal"])) / 2**20
    return cores, f"{max(1, int(gb))}g"


def _session(workdir: str, cores: int, heap: str, trace: bool):
    from bear_spark.session import get_spark

    local = os.path.join(workdir, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        cores=cores,
        shuffle_partitions=2 * cores,
        driver_memory=heap,
        extra_conf={
            # the REST status API feeds the traced run's job and stage
            # timings and executor CPU; untraced runs do without it
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        },
    )


def _stop(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    gw = spark.sparkContext._gateway
    spark.stop()
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be closed
        pass
    proc = getattr(gw, "proc", None)
    if proc is not None and proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass
    _kill_children()


def _kill_children(timeout: float = 30.0) -> None:
    """SIGKILL every descendant of this process and wait until all are gone."""
    from perfbench.proc import scan_tree

    children = [p for p in scan_tree() if p != os.getpid()]
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:  # reap our own children
                pass
        except ChildProcessError:
            pass
        if not any(os.path.exists(f"/proc/{p}") and not _zombie(p) for p in children):
            return
        time.sleep(0.1)


def _rmdir_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:  # another run still uses it
        pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
        return s[s.rindex(")") + 2] == "Z"
    except OSError:
        return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the benchmark drives the repository's code; refuse to run without it
    for need in ("bear_spark/__init__.py", "bench.py", "tools/check_correctness.py"):
        if not os.path.isfile(os.path.join(REPO, need)):
            _fail(f"{need} not found next to perfbench/; run from a full checkout")
    sys.path.insert(0, REPO)
    # Python workers inherit PYTHONPATH, not this process's sys.path
    os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    workdir = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")

    def on_term(*_):
        # a py4j call may be in flight, so do not unwind through Spark:
        # kill every process this run started, wait for them, clean up
        _kill_children()
        shutil.rmtree(workdir, ignore_errors=True)
        _rmdir_if_empty(os.path.dirname(workdir))
        os._exit(128 + signal.SIGTERM)

    signal.signal(signal.SIGTERM, on_term)
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    # keep every file the run writes inside the checkout: Python temp
    # files, and the JVMs' perf-data files (which ignore java.io.tmpdir)
    os.environ["TMPDIR"] = workdir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    cores, heap = _host()
    spark = None
    t0 = time.perf_counter()
    try:
        spark = _session(workdir, cores, heap, bool(args.trace))
        print(f"perfbench: session {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        from perfbench.harness import Harness

        h = Harness(spark, workdir, args.seed, args.seconds, bool(args.trace), cores, heap)
        result = h.run(WORKLOADS[args.workload])
        if h.tracer is not None:
            os.makedirs(SPANS_DIR, exist_ok=True)
            path = os.path.join(SPANS_DIR, f"{args.workload}-{args.seed}-{h.run_id}.json")
            h.tracer.dump(path)
            result["report"]["spans"] = path
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            _stop(spark)
            print(f"perfbench: stop {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        shutil.rmtree(workdir, ignore_errors=True)
        _rmdir_if_empty(os.path.dirname(workdir))
    print(json.dumps(result["report"], sort_keys=True))
    print(json.dumps(result["final"]))
    return 0 if result["final"]["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
