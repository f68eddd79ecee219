"""esda_spark benchmark entry point.

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 5 --trace 0

Run from the repository root.  Workloads, metrics and bounds are in
``BENCHMARK.json``.  The run happens in a child process (``runner.py``)
whose environment is sized to this machine: ``local[<cores>]`` and a
driver heap below physical memory.  Every file the run writes stays
under ``.perfbench_work/`` in the repository; the run's own work
directory is removed when it ends, and the full report (with the
spans of a traced run) is kept as ``.perfbench_work/reports/``
``<workload>-seed<seed>-trace<trace>.json``.

The last line of standard output is the result: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The
line before it is the full report.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.probes import tree_pids  # noqa: E402

TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def _driver_mem_mb() -> int:
    """A driver heap of an eighth of physical memory, at most 2 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return min(2048, total_kb // 8192)


def _child_env(work: str) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("ESDA_SPARK_")}
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{_driver_mem_mb()}m",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "JAVA_TOOL_OPTIONS": f"{env.get('JAVA_TOOL_OPTIONS', '')} {java_opts}".strip(),
    })
    return env


def _stop_descendants() -> None:
    """Stop every process the run left below this one (the JVM and the
    Python worker daemon, which runs in a process group of its own) and
    reap them.  As a child subreaper this process inherits orphans, so
    none escapes by outliving its parent."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10.0
        sent = False
        while time.monotonic() < deadline:
            while True:  # reap whatever has exited
                try:
                    if os.waitpid(-1, os.WNOHANG)[0] == 0:
                        break
                except ChildProcessError:
                    break
            left = [p for p in tree_pids(me) if p != me]
            if not left:
                return
            if not sent:
                for p in left:
                    try:
                        os.kill(p, sig)
                    except ProcessLookupError:
                        pass
                sent = True
            time.sleep(0.1)


def main() -> int:
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "esda_spark", "__init__.py")):
        print(f"perfbench: no esda_spark package in {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    reports = os.path.join(base, "reports")
    os.makedirs(reports, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    report = os.path.join(
        reports, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    log = os.path.join(work, "runner.log")
    cmd = [sys.executable, os.path.join(HERE, "runner.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--spec", spec_path, "--report", report]
    try:
        env = _child_env(work)
        with open(log, "w") as err:
            child = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                     stderr=err, text=True)
            try:
                out, _ = child.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
                return 3
            finally:
                _stop_descendants()
        lines = out.strip().splitlines()
        if child.returncode != 0 or not lines:
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            print(f"perfbench: runner exited with {child.returncode}", file=sys.stderr)
            return child.returncode or 1
        json.loads(lines[-1])
        print("\n".join(lines))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
