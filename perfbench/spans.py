"""Spans and Spark-side counters recorded from outside the package.

`Tracer.install()` wraps the package's public functions at the names
their callers look them up: module attributes for functions called as
`module.fn`, class attributes for methods, and the importing module's
own binding for names imported with `from x import fn`. Each wrapped
call becomes a span. While a span is innermost, its Spark jobs run
under a job group of its own, so `statusTracker()` resolves the span
to jobs and stages, and the status store gives their task metrics.

Spans are kept in memory, resolved after each operation (outside the
timed region) and written to one JSON file at exit. Tracing is off
unless `Tracer.active` is set, so one process can alternate traced
and untraced operations.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "healthcare_data_lakehouse_using_gcp_spark"

# Spark counters attached to a span and summed over its subtree
COUNTERS = (
    "jobs", "tasks", "failed_tasks", "exec_cpu_s", "shuffle_write_mb",
    "spill_mb", "rows_out",
)
REPORT_FNS = (
    "check_freshness", "check_quality", "patient_monitoring_report",
    "claims_processing_report", "check_pipeline_health", "check_staleness",
)
OPERATOR_MODULES = ("retrieval", "text", "similarity", "graph", "scd", "dedup")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of process ``pid``, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM line for pid {pid}")


def proc_stat(path: str) -> tuple[str, list[str]]:
    """The command name and the fields after it of a /proc stat file."""
    with open(path) as f:
        raw = f.read()
    # the name may hold spaces and parentheses: it ends at the last ")"
    cut = raw.rindex(")")
    return raw[raw.index("(") + 1:cut], raw[cut + 1:].split()


def program_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the program has used so far: this Python process,
    the Spark JVM and its descendant processes (with the children each
    has reaped), less the JVM's JIT compiler threads. Compilation is
    warm-up work whose amount and timing vary from run to run; the
    session keeps those threads alive (see run.start_session), so
    their share can be subtracted. Unlike wall time, CPU time leaves
    out the time the program waits for a core that other processes
    on the host hold."""
    tick = os.sysconf("SC_CLK_TCK")
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                _, fields = proc_stat(f"/proc/{entry}/stat")
            except OSError:
                continue  # exited while listing
            # fields[1] is the parent; [11:15] utime stime cutime cstime
            procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    ticks, todo = 0, [jvm_pid]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(p for p, (parent, _) in procs.items() if parent == pid)
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            name, fields = proc_stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        except OSError:
            continue
        if "CompilerThre" in name:
            ticks -= int(fields[11]) + int(fields[12])
    return time.process_time() + ticks / tick


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, 0.0, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Span:
    def __init__(self, idx: int, name: str, parent: int | None, group: str, op: int):
        self.idx, self.name, self.parent, self.group, self.op = idx, name, parent, group, op
        self.start = self.end = 0.0
        self.gc_s = 0.0
        self.jobs: list[int] = []
        self.own: dict[str, float] = dict.fromkeys(COUNTERS, 0.0)
        self.intervals: list[tuple[float, float]] = []
        self.extra: dict[str, float] = {}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.run_id = run_id
        self.active = False
        self.op = 0
        self.spans: list[Span] = []
        self.max_live_cached_rdds = 0
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self._stack: list[Span] = []
        self._pending: list[Span] = []
        self._frame_names: dict[int, tuple[object, str]] = {}
        self._commits: list[tuple[Span, str, int]] = []

    # ------------------------------------------------------ JVM probes

    def gc_seconds(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def live_cached_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(self.jvm_pid)

    # ----------------------------------------------------------- spans

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.idx if parent else None,
                  f"pb-{self.run_id}-{len(self.spans)}", self.op)
        self.spans.append(sp)
        self._pending.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        gc0 = self.gc_seconds()
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.gc_s = self.gc_seconds() - gc0
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", self._stack[-1].group if self._stack else None
            )

    def resolve(self) -> None:
        """Attach jobs, job intervals and stage metrics to the spans
        closed since the last call. Call between operations, outside
        their timed region."""
        if not self._pending:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self._pending:
            sp.jobs = sorted(tracker.getJobIdsForGroup(sp.group))
            own = sp.own
            own["jobs"] = float(len(sp.jobs))
            stages = set()
            for jid in sp.jobs:
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    sp.intervals.append((sub.get().getTime() / 1000.0,
                                         done.get().getTime() / 1000.0))
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stages.update(info.stageIds)
            for sid in stages:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                    continue
                own["tasks"] += st.numCompleteTasks()
                own["failed_tasks"] += st.numFailedTasks()
                own["exec_cpu_s"] += st.executorCpuTime() / 1e9
                own["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                own["spill_mb"] += st.diskBytesSpilled() / 1e6
                own["rows_out"] += st.outputRecords()
        for sp, root, version in self._commits:
            sp.extra.update(commit_files(root, version))
        self._commits.clear()
        self._pending.clear()
        self._frame_names.clear()
        self.max_live_cached_rdds = max(self.max_live_cached_rdds, self.live_cached_rdds())

    # -------------------------------------------------------- wrapping

    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
            if sp is not None and after is not None:
                after(sp, args, out)
            return out

        setattr(owner, attr, wrapper)

    def _wrap_named(self, owner, attr: str, namer) -> None:
        """Wrap ``owner.attr`` with a span named per call by
        ``namer(args, kwargs)``; a None name records no span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            name = namer(args, kwargs) if tracer.active else None
            if name is None:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        lakehouse = importlib.import_module(f"{PKG}.lakehouse")
        snapshots = importlib.import_module(f"{PKG}.sources.snapshots")
        reports = importlib.import_module(f"{PKG}.plans.reports")
        pipeline = importlib.import_module(f"{PKG}.streaming.pipeline")

        hl = lakehouse.HealthcareLakehouse
        self._wrap(hl, "run_etl", "lakehouse.run_etl")
        self._wrap(hl, "run_models", "plans.models.run_models")
        self._wrap(hl, "run_reports", "plans.reports.run_reports")
        # bound by `from ..operators.etl import ...` in the callers
        self._wrap(lakehouse, "build_etl_cached", "operators.etl.build_etl_cached")
        self._wrap(pipeline, "build_etl", "operators.etl.build_etl")

        st = snapshots.SnapshotTable
        self._wrap(st, "commit_append", "sources.snapshots.commit_append",
                   after=lambda sp, args, version: self._commits.append(
                       (sp, args[0].root, version)))
        self._wrap(st, "read", "sources.snapshots.read")

        # two reports return lazy frames that run_reports collects:
        # the collect is attributed to the report that built the frame
        def remember(sp, args, out):
            self._frame_names[id(out)] = (out, sp.name)

        for fn in REPORT_FNS:
            self._wrap(reports, fn, f"plans.reports.{fn}", after=remember)

        def collect_name(args, kwargs):
            hit = self._frame_names.get(id(args[0]))
            return hit[1] if hit else None

        def parquet_name(args, kwargs):
            if self._stack and self._stack[-1].name == "plans.models.run_models":
                path = args[1] if len(args) > 1 else kwargs["path"]
                return f"plans.models.{os.path.basename(str(path).rstrip('/'))}"
            return None

        probe = self.spark.range(1)
        self._wrap_named(type(probe), "collect", collect_name)
        self._wrap_named(type(probe.write), "parquet", parquet_name)
        self._wrap_named(type(probe.write), "json", lambda a, k: "errors.write_json")

        for mod_name in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PKG}.operators.{mod_name}")
            for attr, fn in list(vars(mod).items()):
                if (not attr.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == mod.__name__):
                    self._wrap(mod, attr, f"operators.{mod_name}.{attr}")

    # ------------------------------------------------------- reporting

    def totals(self) -> list[dict]:
        """Per span: wall, self time (wall minus the time its child
        spans cover), Spark time (the union of its jobs'
        submission-to-completion intervals), driver time (wall minus
        Spark time) and counters summed over the span's subtree."""
        children = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append(sp.idx)
        out: list[dict] = [{}] * len(self.spans)
        for sp in reversed(self.spans):  # a child always follows its parent
            tot = dict(sp.own)
            intervals = list(sp.intervals)
            cover = []
            for c in children[sp.idx]:
                for k in COUNTERS:
                    tot[k] += out[c][k]
                intervals.extend(out[c]["_intervals"])
                cover.append((self.spans[c].start, self.spans[c].end))
            wall = sp.end - sp.start
            spark_s = union_len(intervals, sp.start, sp.end)
            out[sp.idx] = {
                **tot, **sp.extra,
                "wall_s": wall,
                "self_s": wall - union_len(cover, sp.start, sp.end),
                "spark_s": spark_s,
                "driver_s": wall - spark_s,
                "gc_s": sp.gc_s,
                "_intervals": intervals,
            }
        return out

    def dump(self, path: str, header: dict) -> None:
        rows = [
            {
                "name": sp.name, "start": sp.start, "end": sp.end,
                "parent": sp.parent, "run_id": self.run_id, "op": sp.op,
                "spark_jobs": sp.jobs,
                **{k: v for k, v in tot.items() if not k.startswith("_")},
            }
            for sp, tot in zip(self.spans, self.totals())
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **header, "spans": rows}, f)


def commit_files(root: str, version: int) -> dict[str, float]:
    """Data files, data bytes and manifest bytes one snapshot append
    added, read from its manifest and its parent's."""

    def manifest(v: int):
        path = os.path.join(root, "_snapshots", f"v{v:08d}.json")
        with open(path) as f:
            return path, json.load(f)

    path, m = manifest(version)
    before = set(manifest(version - 1)[1]["files"]) if version > 1 else set()
    new = [f for f in m["files"] if f not in before]
    return {
        "files_written": float(len(new)),
        "bytes_written": float(sum(os.path.getsize(os.path.join(root, f)) for f in new)),
        "manifest_bytes": float(os.path.getsize(path)),
    }
