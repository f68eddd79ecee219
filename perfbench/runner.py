"""One benchmark run in one process: start Spark, set the workload up
several times, then run passes back to back (a closed loop with one
client) until ``--seconds`` have elapsed.  The end-to-end metrics come
from the first pass alone, so every run measures the same work however
fast a pass is.  That pass is the first time its calls run in the
process, so it includes Spark's code generation, JIT compilation and
Python-worker start-up, as every fresh job submission does.

Prints two JSON lines: the full report, then the result line
(``correct``, ``attempted``, ``failed``, ``metrics``).  Started by
``run.py``, which prepares the environment and the work directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.probes import (  # noqa: E402
    MemSampler,
    StageMetrics,
    Tracer,
    cpu_ticks,
    steal_share,
    tree_cpu_s,
)
from perfbench.workloads import (  # noqa: E402
    DOCS,
    ESDA_SITES,
    QUERIES,
    SCALE_POINTS,
    WORKLOADS,
)

SETUP_REPS = 3

# Calls whose per-layer numbers the traced run reports (zeros on the
# workload that does not make the call); rows for the calls whose row
# count is a measure of their work.
LAYERS = [
    "sources.load", "weights.knn_edges", "weights.knn_edges_scale",
    "global_stats.moran", "global_stats.geary", "global_stats.getis_g",
    "local_stats.moran_local", "local_stats.g_local", "local_stats.moran_local_scale",
    "checkpoint.stage_write", "checkpoint.stage_resume",
    "spatial_join.point_in_polygon", "text.minhash_signatures",
    "text.lsh_candidate_pairs", "text.simhash_signatures",
    "text.minhash_dedup_groups", "similarity.cosine_topk_small",
    "similarity.near_dup_groups", "similarity.kmeans_fit",
    "similarity.cosine_topk_large", "similarity.lsh_topk", "similarity.ivf_topk",
]
ROW_LAYERS = {"sources.load", "weights.knn_edges", "weights.knn_edges_scale",
              "checkpoint.stage_resume", "spatial_join.point_in_polygon",
              "text.lsh_candidate_pairs"}
# The scorers above the in-core ANN gate, whose work is on the Python
# side of the Arrow boundary: they also report the workers' CPU time.
ARROW_LAYERS = {"similarity.cosine_topk_large", "similarity.lsh_topk",
                "similarity.ivf_topk"}
RATES = ["lisa_sites_per_s", "lisa_scale_sites_per_s", "pip_points_per_s",
         "dedup_docs_per_s", "ann_queries_per_s", "ann_recall_at_10",
         "ivf_recall_at_10"]
RATIOS = {"ann_recall_at_10", "ivf_recall_at_10"}


class Ops:
    """Counts the calls made into esda_spark, times them, and records
    which of them failed or returned wrong output."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.walls: dict[str, float] = {}
        self.notes: dict[str, float] = {}
        self.scratch = ""
        self.seen: dict[str, object] = {}
        self._bad: set[str] = set()
        self._after: list = []

    @contextmanager
    def call(self, name: str):
        self.attempted += 1
        try:
            with self.tracer.span(name) as s:
                yield s
        except Exception:
            self.fail(name, traceback.format_exc(limit=3))
            raise
        self.walls[name] = self.walls.get(name, 0.0) + s.wall_s

    def fail(self, name: str, msg: str) -> None:
        self._bad.add(name)
        self.errors.append(f"{name}: {msg}")

    def check(self, name: str, ok: bool, msg: str) -> None:
        if not ok:
            self.fail(name, msg)

    def same(self, name: str, value, rows: int | None = None) -> None:
        """``value`` must repeat exactly on every pass of this run; with
        ``rows``, its first element must also equal ``rows``."""
        if rows is not None:
            self.check(name, value[0] == rows, f"{value[0]} rows, expected {rows}")
        first = self.seen.setdefault(name, value)
        self.check(name, value == first, f"{value!r} differs from an earlier pass {first!r}")

    def after(self, name: str, check) -> None:
        """Run ``check() -> (ok, message)`` once the pass is timed."""
        self._after.append((name, check))

    def note(self, key: str, value: float) -> None:
        self.notes[key] = value

    def end(self) -> bool:
        """Run the deferred checks and close the pass (or set-up);
        True when nothing in it failed."""
        for name, check in self._after:
            try:
                ok, msg = check()
            except Exception:
                ok, msg = False, traceback.format_exc(limit=3)
            self.check(name, ok, msg)
        self._after.clear()
        ok = not self._bad
        self.failed += len(self._bad)
        self._bad.clear()
        return ok


def _persisted(sc) -> set:
    return set(sc._jsc.getPersistentRDDs().keySet().toArray())


def _free_since(sc, before: set) -> None:
    jmap = sc._jsc.getPersistentRDDs()
    for rid in _persisted(sc) - before:
        jr = jmap.get(rid)
        if jr is not None:
            jr.unpersist()


def _median(xs):
    return statistics.median(xs) if xs else None


def _tail(xs):
    """Highest percentile with at least ten samples beyond it; None
    when there are fewer than eleven samples."""
    if len(xs) < 11:
        return None
    return sorted(xs)[len(xs) - 11]


def _versions() -> dict:
    import numpy
    import pyspark

    return {"spark": pyspark.__version__, "numpy": numpy.__version__,
            "python": platform.python_version()}


def run(args) -> dict:
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    make, load, run_pass = WORKLOADS[args.workload]
    root = os.getpid()
    load_before, ticks_before = os.getloadavg(), cpu_ticks()
    tracer = Tracer(enabled=bool(args.trace), root=root)
    ops = Ops(tracer)
    phases = {}

    with MemSampler(root) as mem:
        t0 = time.perf_counter()
        from esda_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}", parallelism=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        phases["session_s"] = time.perf_counter() - t0
        stages = StageMetrics(spark) if args.trace else None

        # Inputs are written once; each set-up repetition reads them
        # back through esda_spark.sources and caches them.
        t0 = time.perf_counter()
        d = os.path.join(args.work, "data")
        os.makedirs(d)
        meta = make(args.seed, d)
        phases["input_gen_s"] = time.perf_counter() - t0
        setup_s, setup_spans, data = [], [], None
        empty = _persisted(sc)
        for _ in range(SETUP_REPS):
            _free_since(sc, empty)  # the previous repetition's caches
            if stages:
                stages.skip_to_latest()
            tracer.spans = []
            t0 = time.perf_counter()
            data = load(spark, ops, d, meta, cpus)
            setup_s.append(time.perf_counter() - t0)
            if stages:
                stages.charge(tracer.spans)
                setup_spans += tracer.spans
            if not ops.end():
                raise RuntimeError("set-up failed: " + "; ".join(ops.errors))
        base = _persisted(sc)

        def one_pass(i: int, traced: bool) -> dict:
            tracer.enabled = traced
            tracer.spans, tracer.self_s = [], 0.0
            ops.walls, ops.notes = {}, {}
            ops.scratch = os.path.join(args.work, "pass", str(i))
            os.makedirs(ops.scratch)
            if traced:
                stages.skip_to_latest()
            cpu0, t0 = tree_cpu_s(root), time.perf_counter()
            try:
                run_pass(spark, ops, data)
                aborted = False
            except Exception:  # already recorded against the failing call
                aborted = True
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(root) - cpu0
            rec = {"pass": i, "traced": traced, "aborted": aborted, "wall_s": wall,
                   "cpu_s": cpu, "calls": ops.walls, "notes": ops.notes}
            if traced:
                rec["orphan_jobs"] = stages.charge(tracer.spans)
                top = sum(s.wall_s for s in tracer.spans if s.parent is None)
                rec["unaccounted_share"] = 1 - top / wall
                rec["overhead_share"] = tracer.self_s / wall
                rec["spans"] = tracer.spans
            rec["ok"] = ops.end() and not aborted
            _free_since(sc, base)
            shutil.rmtree(ops.scratch, ignore_errors=True)
            sc._jvm.System.gc()
            return rec

        # A traced run traces its first pass, the one an untraced run
        # times, for the per-layer numbers; then it alternates untraced
        # and traced passes, at least one of each, for the report.
        passes: list[dict] = []
        t_start = time.perf_counter()
        while (time.perf_counter() - t_start < args.seconds
               or (args.trace and len(passes) < 3)):
            traced = bool(args.trace) and len(passes) % 2 == 0
            passes.append(one_pass(len(passes) + 1, traced))
            if len(passes) == 1:
                peak_mb = mem.sample()  # later passes do not count
        phases["passes_s"] = time.perf_counter() - t_start
        t0 = time.perf_counter()
        spark.stop()
        phases["stop_s"] = time.perf_counter() - t0

    # The metrics come from the first pass (traced in a traced run, as
    # its layers are); a pass with a wrong output still ran to the end
    # and is timed.  Later untraced passes only feed the tail.
    first = passes[0]
    later = [p for p in passes[1:] if not (p["traced"] or p["aborted"])]

    def per_s(count, names):
        t = sum(first["calls"].get(n, 0.0) for n in names)
        return count / t if t and not first["aborted"] else None

    text = [n for n in LAYERS if n.startswith("text.")]
    rates = {
        "spatial": {
            "lisa_sites_per_s": per_s(ESDA_SITES, ["local_stats.moran_local"]),
            "lisa_scale_sites_per_s": per_s(SCALE_POINTS, ["local_stats.moran_local_scale"]),
            "pip_points_per_s": per_s(SCALE_POINTS, ["spatial_join.point_in_polygon"]),
        },
        "dedup_ann": {
            "dedup_docs_per_s": per_s(DOCS, text),
            "ann_queries_per_s": per_s(QUERIES, ["similarity.lsh_topk"]),
            "ann_recall_at_10": first["notes"].get("ann_recall_at_10"),
            "ivf_recall_at_10": first["notes"].get("ivf_recall_at_10"),
        },
    }[args.workload]

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "metrics": {
            "pass_s": {"value": first["wall_s"], "unit": "s", "n": 1},
            "pass_s_tail": {"value": _tail([p["wall_s"] for p in later]), "unit": "s",
                            "n": len(later)},
            "setup_s": {"value": phases["session_s"] + phases["input_gen_s"]
                        + _median(setup_s), "unit": "s", "n": len(setup_s)},
            "cpu_s": {"value": first["cpu_s"], "unit": "s", "n": 1},
            # proportional set size, peak up to the end of the first pass
            "peak_rss_mb": {"value": peak_mb, "unit": "MB", "n": 1},
            "error_rate": {"value": ops.failed / max(ops.attempted, 1),
                           "unit": "ratio", "n": ops.attempted},
            **{k: {"value": v, "unit": "ratio" if k in RATIOS else "1/s", "n": 1}
               for k, v in rates.items()},
        },
        "setup_reps_s": setup_s, "phases": phases,
        "passes": [{k: p[k] for k in ("pass", "traced", "ok", "wall_s", "cpu_s", "calls")}
                   for p in passes],
        "attempted": ops.attempted, "failed": ops.failed, "errors": ops.errors[:20],
        "circumstances": {
            "nproc": cpus, "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "cpu_steal_share": steal_share(ticks_before, cpu_ticks()),
            **_versions()},
    }
    if args.trace:
        report["tracing"] = _tracing(passes, setup_spans, cpus)
    return report


def _tracing(passes, setup_spans, cpus) -> dict:
    """Per-layer numbers of the first pass (``sources.load`` and
    ``similarity.kmeans_fit``: median of the set-up repetitions), the
    share of that pass's time no span covers, and the overhead of
    tracing: the share of that pass's time the recording itself took.
    The wall times of later untraced/traced pass pairs are reported too;
    they differ mostly by warm-up, as each pass runs warmer than the
    one before it."""
    first = passes[0] if not passes[0]["aborted"] else {"spans": []}
    runs: dict[str, list] = {}
    for s in setup_spans + first["spans"]:
        runs.setdefault(s.name, []).append(s)
    layers = {}
    for name in LAYERS:
        rs = runs.get(name, [])
        m = {k: _median([getattr(s, k) for s in rs]) or 0.0
             for k in ("wall_s", "jobs", "task_s", "shuffle_bytes", "py_cpu_s")}
        m["util"] = m["task_s"] / (m["wall_s"] * cpus) if m["wall_s"] else 0.0
        if name in ROW_LAYERS:
            m["rows"] = _median([s.rows or 0 for s in rs]) or 0
        layers[name] = m
    pairs = [(u, t) for u, t in zip(passes[1:], passes[2:])
             if t["traced"] and not u["traced"] and not (t["aborted"] or u["aborted"])]
    return {
        "layers": layers,
        "warm_pass_s": _median([u["wall_s"] for u, _ in pairs]) or 0.0,
        "untraced_traced_pass_s": [(u["wall_s"], t["wall_s"]) for u, t in pairs],
        "overhead_share": first.get("overhead_share", 0.0),
        "unaccounted_share": first.get("unaccounted_share", 0.0),
        "orphan_jobs": first.get("orphan_jobs", 0),
        "spans": [[vars(s) for s in p["spans"]] for p in passes if p["traced"]],
    }


def result_line(report: dict, spec: dict) -> dict:
    """The contract's last line: end-to-end metrics untraced, per-layer
    metrics traced, each with its unit from BENCHMARK.json (which names
    ``py_cpu_s`` only for the layers in ``ARROW_LAYERS``)."""
    if report["trace"]:
        tr = report["tracing"]
        flat = {"trace.overhead_share": tr["overhead_share"],
                "trace.unaccounted_share": tr["unaccounted_share"]}
        for name, m in tr["layers"].items():
            for k, v in m.items():
                flat[f"{name}.{k}"] = v
        for k in RATES:
            flat[k] = report["metrics"].get(k, {}).get("value") or 0.0
        wanted = spec["per_layer"]
    else:
        flat = {k: v["value"] for k, v in report["metrics"].items()}
        wanted = spec["end_to_end"]
    return {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {m["name"]: {"value": flat[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--spec", required=True)
    p.add_argument("--report", required=True)
    args = p.parse_args()
    with open(args.spec) as f:
        spec = json.load(f)
    report = run(args)
    with open(args.report, "w") as f:
        json.dump(report, f, indent=1)  # spans included
    report.get("tracing", {}).pop("spans", None)
    print(json.dumps(report), flush=True)
    print(json.dumps(result_line(report, spec)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
