"""Lakehouse benchmark: one workload, one seed, one JSON result.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Starts a `local[4]` session through the package's `get_spark`, builds
the workload's inputs from the seed, warms up, then runs the workload's
operations back to back (one client, closed loop) in whole rounds
that span `--seconds` to the nearest round, at least one. Every
operation's output is checked. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` every other round is traced and
the metrics are its per-layer metrics. The line before the result
carries the run's detail: environment, sample counts, the tail
percentile used, the workload's own named metrics and any failures.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from healthcare_data_lakehouse_using_gcp_spark.session import get_spark  # noqa: E402

import spans  # noqa: E402
import workloads  # noqa: E402

CORES = 4
END_TO_END_UNITS = {
    "setup_s": "s", "op_cpu_s": "s", "round_cpu_s": "s",
}


def tail(values: list[float]) -> tuple[float, float]:
    """The highest nearest-rank percentile with at least ten samples
    above it, but never below the upper median: (value, percentile)."""
    xs = sorted(values)
    n = len(xs)
    k = max(n - 11, n // 2)
    return xs[k], 100.0 * (k + 1) / n


def environment() -> dict:
    import duckdb
    import pyspark

    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        head = "unknown"
    return {
        "nproc": os.cpu_count(), "master": f"local[{CORES}]",
        "load1_start": os.getloadavg()[0],
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__, "git_head": head,
    }


def start_session(work_dir: str):
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep the JVM's and Spark's scratch files inside the work dir
    os.environ["TMPDIR"] = tmp
    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
            # fixed JIT compiler threads, so spans.program_cpu_s can
            # leave their CPU out
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM gateway process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(w, seconds: float, traced_every_other: bool):
    """Run whole rounds while the next one, at the mean round wall so
    far, would end within half a round of ``seconds``, so the rounds
    span ``seconds`` to the nearest round; at least one round, and when
    tracing at least two. Every other round is traced then, so every
    kind of operation has traced and untraced samples. Returns the
    (kind, wall, cpu, items, traced) samples of the operations that
    passed, the walls of the untraced rounds in which every operation
    passed, and the number of traced rounds."""
    samples: list[tuple[str, float, float, int, bool]] = []
    rounds: list[float] = []
    start = time.perf_counter()
    n_rounds = 0
    while True:
        traced = traced_every_other and n_rounds % 2 == 1
        walls = []
        for _ in w.round_kinds:
            out = w.step(traced)
            if out is not None:
                samples.append((*out, traced))
                walls.append(out[1])
        n_rounds += 1
        if not traced and len(walls) == len(w.round_kinds):
            rounds.append(sum(walls))
        elapsed = time.perf_counter() - start
        if elapsed * (n_rounds + 0.5) / n_rounds > seconds and (
            n_rounds >= 2 or not traced_every_other
        ):
            return samples, rounds, n_rounds // 2


def overhead(samples) -> float:
    """Traced over untraced CPU, as op_cpu_s compares them: per kind of
    operation the ratio of medians, then the geometric mean over kinds."""
    by = defaultdict(lambda: ([], []))
    for kind, _, cpu, _, traced in samples:
        by[kind][traced].append(cpu)
    ratios = [statistics.median(t) / statistics.median(u) for u, t in by.values() if u and t]
    return math.exp(statistics.fmean(math.log(r) for r in ratios)) if ratios else 0.0


def layer_metrics(tracer, n_rounds: int, start_s: float, samples) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the traced rounds: per-call means, except
    ``calls`` and the JVM totals, which are per traced round."""
    totals = tracer.totals()
    by_name = defaultdict(list)
    for sp, tot in zip(tracer.spans, totals):
        by_name[sp.name].append(tot)
    op_mods = {f"operators.{m}" for m in spans.OPERATOR_MODULES}
    for sp, tot in zip(tracer.spans, totals):
        mod = sp.name.rsplit(".", 1)[0]
        parent = tracer.spans[sp.parent].name if sp.parent is not None else ""
        if mod in op_mods and not parent.startswith(mod + "."):
            by_name[mod].append(tot)  # outermost call into the module
        if mod == "operators.etl":
            by_name["operators.etl"].append(tot)

    def mean(name: str, key: str) -> float:
        rows = by_name.get(name, [])
        return sum(r.get(key, 0.0) for r in rows) / len(rows) if rows else 0.0

    out: dict[str, tuple[float, str]] = {"session.start_s": (start_s, "s")}
    for name, keys in LAYERS:
        for key in keys:
            if key == "calls":
                out[f"{name}.calls"] = (len(by_name.get(name, [])) / max(n_rounds, 1), "count")
            else:
                out[f"{name}.{key}"] = (mean(name, key), UNITS[key])
    top = [tot for sp, tot in zip(tracer.spans, totals) if sp.parent is None]
    out["jvm.gc_s"] = (sum(sp.gc_s for sp in tracer.spans if sp.parent is None)
                       / max(n_rounds, 1), "s")
    out["jvm.failed_tasks"] = (sum(t["failed_tasks"] for t in top) / max(n_rounds, 1), "count")
    out["jvm.live_cached_rdds"] = (float(tracer.max_live_cached_rdds), "count")
    out["trace_overhead"] = (overhead(samples), "ratio")
    return out


UNITS = {
    "wall_s": "s", "driver_s": "s", "spark_s": "s", "exec_cpu_s": "s",
    "jobs": "count", "tasks": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "files_written": "count", "bytes_written": "bytes", "manifest_bytes": "bytes",
    "rows_out": "count",
}
STAGE = ("wall_s", "driver_s", "spark_s", "exec_cpu_s", "shuffle_write_mb", "spill_mb",
         "rows_out")
LAYERS = [
    ("lakehouse.run_etl",
     ("wall_s", "driver_s", "spark_s", "exec_cpu_s", "jobs", "tasks", "shuffle_write_mb")),
    ("operators.etl", ("wall_s",)),
    ("sources.snapshots.commit_append",
     ("wall_s", "driver_s", "calls", "files_written", "bytes_written", "manifest_bytes")),
    ("sources.snapshots.read", ("wall_s",)),
    ("plans.models.run_models", STAGE),
    *[(f"plans.models.{t}", STAGE) for t in workloads.CURATED],
    *[(f"plans.reports.{f}", ("wall_s", "jobs")) for f in spans.REPORT_FNS],
    ("streaming.pipeline.etl_sink", ("wall_s", "driver_s", "jobs")),
    ("errors.write_json", ("wall_s",)),
    *[(f"corpus.{q}", ("wall_s", "exec_cpu_s", "shuffle_write_mb", "jobs"))
      for q in workloads.BASKET],
    *[(f"operators.{m}", ("wall_s", "jobs")) for m in spans.OPERATOR_MODULES],
]


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def end_to_end(w, setup_s, samples, rounds, peak_rss) -> tuple[dict, dict]:
    """The BENCHMARK.json end-to-end metrics, and the detail line's
    sample counts and named metrics. A metric with no passing sample
    to take it from is left out.

    The operation metrics are CPU seconds of the program (see
    spans.program_cpu_s): on a shared host, wall time measures the
    neighbours as much as the program. op_cpu_s takes the median per
    kind of operation (a pipeline stage, or a query of the basket),
    then the geometric mean over kinds: a pooled order statistic would
    jump between kinds from run to run. round_cpu_s adds the per-kind
    medians over the kinds of one round. Wall-time figures, which the
    detail line carries, have no bound. A run holds too few operations
    of a kind for a tail with ten samples beyond it, so the pooled
    tail and its percentile are in the detail line only."""
    walls, cpus = defaultdict(list), defaultdict(list)
    items = wall_sum = 0.0
    for kind, wall, cpu, n, _ in samples:
        walls[kind].append(wall)
        cpus[kind].append(cpu)
        items += n
        wall_sum += wall
    m = {"setup_s": setup_s}
    if samples:
        m["op_cpu_s"] = geomean(statistics.median(v) for v in cpus.values())
    if all(k in cpus for k in w.round_kinds):
        m["round_cpu_s"] = sum(statistics.median(cpus[k]) for k in w.round_kinds)
    named = {
        "setup_s": (setup_s, "s"), "peak_rss_mb": (peak_rss, "MB"),
        "fail_rate": (w.failed / max(w.attempted, 1), "ratio"),
    }
    pooled = [wall for _, wall, _, _, _ in samples]
    tail_pct = None
    if samples:
        named["op_p50_s"] = (geomean(statistics.median(v) for v in walls.values()), "s")
        named["items_per_s"] = (items / wall_sum, "1/s")
    if w.name == "query_basket" and pooled:
        named["query_p50_s"] = (statistics.median(pooled), "s")
        tail_s, tail_pct = tail(pooled)
        named["query_tail_s"] = (tail_s, "s")
    sinks = [(wall, n) for kind, wall, _, n, _ in samples if kind == "sink"]
    if sinks:
        named["batch_p50_s"] = (statistics.median(wall for wall, _ in sinks), "s")
        named["stream_msgs_per_s"] = (sum(n for _, n in sinks) / sum(wall for wall, _ in sinks),
                                      "1/s")
    if rounds:
        named["basket_s" if w.name == "query_basket" else "dag_s"] = (
            statistics.median(rounds), "s")
    named.update(w.detail())
    return m, {"named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
               "op_samples": len(pooled), "round_walls": rounds,
               "op_walls": {k: [round(x, 4) for x in v] for k, v in walls.items()},
               "op_cpus": {k: [round(x, 4) for x in v] for k, v in cpus.items()},
               "pooled_tail_percentile": tail_pct}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(workloads.SIZES), default="full")
    ap.add_argument("--fingerprints", default=os.path.join(HERE, "fingerprints.json"),
                    help="recorded pipeline fingerprints, keyed by seed and sizes")
    ap.add_argument("--record-fingerprint", action="store_true",
                    help="add this seed's pipeline fingerprint to --fingerprints")
    args = ap.parse_args(argv)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out_dir = os.path.join(os.getcwd(), ".perfbench")
    work_dir = os.path.join(out_dir, "work", run_id)
    os.makedirs(work_dir, exist_ok=True)
    env = environment()
    if env["load1_start"] > (os.cpu_count() or 1):
        print(f"warning: 1-minute load {env['load1_start']:.1f} exceeds "
              f"{os.cpu_count()} cores; timings will be inflated", file=sys.stderr)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work_dir)
        start_s = time.perf_counter() - t0
        tracer = spans.Tracer(spark, run_id)
        if args.trace:
            tracer.install()
        cls = workloads.WORKLOADS[args.workload]
        kw = {}
        if cls is workloads.Pipeline and os.path.exists(args.fingerprints):
            with open(args.fingerprints) as f:
                kw["fingerprints"] = json.load(f)
        w = cls(spark, work_dir, args.seed, workloads.SIZES[args.size],
                tracer=tracer if args.trace else None, **kw)
        w.setup()
        setup_s = time.perf_counter() - t0
        t_loop = time.perf_counter()
        samples, rounds, n_traced = measure(w, args.seconds, traced_every_other=bool(args.trace))
        w.phases["measure"] = time.perf_counter() - t_loop
        w.final_check()
        peak_rss = tracer.peak_rss_mb()
        if args.record_fingerprint and w.failed == 0:
            record_fingerprint(args.fingerprints, w)
        if args.trace:
            metrics = layer_metrics(tracer, n_traced, start_s, samples)
            tracer.dump(os.path.join(out_dir, "traces", f"{run_id}.json"),
                        {"workload": w.name, "seed": args.seed, "env": env})
            detail = {}
        else:
            e2e, detail = end_to_end(w, setup_s, samples, rounds, peak_rss)
            metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in e2e.items()}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    env["load1_end"] = os.getloadavg()[0]
    print(json.dumps({"detail": {
        "workload": w.name, "seed": args.seed, "trace": args.trace, "size": args.size,
        "env": env, **detail, "failures": w.failures[:10],
        "phases_s": {"session": start_s, **w.phases},
    }}, default=str))
    print(json.dumps({
        "correct": w.failed == 0, "attempted": w.attempted, "failed": w.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def record_fingerprint(path: str, w) -> None:
    pinned = {}
    if os.path.exists(path):
        with open(path) as f:
            pinned = json.load(f)
    pinned[w.key] = w.fingerprint
    with open(path, "w") as f:
        json.dump(dict(sorted(pinned.items())), f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
