"""The benchmark workloads, each a closed loop with one client.

A workload builds its inputs from the seed in `setup()`, which also
warms up. `run.py` then runs whole rounds of `step()` calls back to
back until the measuring time is spent, and finally `final_check()`.
Each operation times its measured region, in wall and CPU seconds,
with `timed()`. Every operation is checked; a raise or a wrong output
counts as failed.

- `Pipeline`: one round is one iteration on a fresh warehouse, in
  stages: a seeded batch of raw envelopes through run_etl (snapshot
  zones), each micro-batch through the make_etl_sink callable, then
  run_models and run_reports. Each stage is one operation.
- `QueryBasket`: one round is one pass over the basket's corpus
  entries, each materialized through the noop sink, in a seed-shuffled
  order per pass.
"""

from __future__ import annotations

import collections
import contextlib
import json
import os
import random
import shutil
import sys
import time
import traceback

from pyspark.sql import functions as F

from healthcare_data_lakehouse_using_gcp_spark import corpus
from healthcare_data_lakehouse_using_gcp_spark.config import EngineConfig
from healthcare_data_lakehouse_using_gcp_spark.lakehouse import HealthcareLakehouse
from healthcare_data_lakehouse_using_gcp_spark.sources.generator import HealthcareDataGenerator
from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import make_etl_sink

import corpus_tables
import spans

ENTITIES = ("vitals", "claims", "ehr")
CURATED = ("fact_patient_encounters", "dim_patients", "dim_providers")
ROUTE_OF = {"patient_vitals": "vitals", "insurance_claim": "claims", "ehr_record": "ehr"}
# one relational entry per kind (aggregation, band join, window) and
# one per operator module: retrieval, text, similarity (which also runs
# dedup.ensure_parallelism), graph and scd
BASKET = (
    "a2_wide_agg", "j1_band_join", "w1_row_number", "text_bm25_topk",
    "lm_perplexity", "ann_cosine_topk", "hierarchy_roots", "cdc_snapshot_diff",
)
MICRO_BATCHES = 2

# inputs per size; "tiny" is for the smoke test. The basket is timed on
# tables at query_sf and checked against its oracles on tables at
# check_sf from the same seed: at sf 0.1 the check, which collects each
# result into Python, takes minutes.
SIZES = {
    "full": {"batch_messages": 1000, "micro_messages": 200, "query_sf": 0.1, "check_sf": 0.01},
    "tiny": {"batch_messages": 300, "micro_messages": 100, "query_sf": 0.001,
             "check_sf": 0.001},
}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def frame_hash(df) -> int:
    """Order-insensitive content hash: the exact sum of every row's
    64-bit hash (of its JSON form, which covers map columns too)."""
    row_hash = F.xxhash64(F.to_json(F.struct(*df.columns)))
    row = df.select(F.sum(row_hash.cast("decimal(38,0)")).alias("h")).first()
    return int(row["h"] or 0)


def zone_digest(df) -> tuple[int, int]:
    return df.count(), frame_hash(df)


def expected_routes(messages: list[str]) -> dict[str, int]:
    """Route counts computed from the messages alone. The generator's
    values all pass the ETL range checks, so every well-formed message
    of a known type lands in its entity zone, other well-formed ones
    in the error route, and malformed ones are dropped."""
    out = dict.fromkeys((*ENTITIES, "unknown"), 0)
    for m in messages:
        try:
            dtype = json.loads(m).get("data_type")
        except json.JSONDecodeError:
            continue
        out[ROUTE_OF.get(dtype, "unknown")] += 1
    return out


def write_lines(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


class Workload:
    name = ""
    # the kinds of the operations of one round, the unit the measuring
    # loop repeats whole
    round_kinds: tuple[str, ...] = ()

    def __init__(self, spark, work_dir: str, seed: int, size: dict, tracer=None):
        self.spark, self.work_dir, self.seed, self.size = spark, work_dir, seed, size
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.phases: dict[str, float] = {}  # set-up and check walls, by phase
        self.jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.timing = (0.0, 0.0)  # wall and CPU seconds of the last timed region

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    @contextlib.contextmanager
    def timed(self):
        """The measured region of an operation: its wall seconds and
        the program's CPU seconds go to ``self.timing``."""
        t0, c0 = time.perf_counter(), spans.program_cpu_s(self.jvm_pid)
        yield
        self.timing = (time.perf_counter() - t0, spans.program_cpu_s(self.jvm_pid) - c0)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def check(self, ok: bool, what: str) -> None:
        """Record a wrong output of the current attempt."""
        if not ok:
            self.failures.append(what)

    @contextlib.contextmanager
    def attempt(self, what: str):
        """One attempted operation or check: it fails if it raises or
        records a wrong output."""
        n = len(self.failures)
        self.attempted += 1
        try:
            yield
        except Exception as e:  # noqa: BLE001 — a failed attempt is a result
            traceback.print_exc(file=sys.stderr)
            self.failures.append(f"{what}: {type(e).__name__}: {e}")
        if len(self.failures) > n:
            self.failed += 1

    def step(self, traced: bool = False) -> tuple[str, float, float, int] | None:
        """One checked operation: op() (traced if asked), which times
        its measured region, then its spans are resolved and after_op()
        runs untimed. Returns (kind, wall seconds, CPU seconds, items),
        or None if it failed."""
        out = None
        n = len(self.failures)
        with self.attempt(self.name):
            try:
                if self.tracer:
                    self.tracer.active = traced
                kind, items = self.op()
                out = (kind, *self.timing, items)
            finally:
                if self.tracer:
                    self.tracer.active = False
                    self.tracer.resolve()
                    self.tracer.op += 1
                self.after_op()
        return out if len(self.failures) == n else None

    def warm_up(self) -> None:
        """One untimed round."""
        with self.phase("warmup"):
            for _ in range(len(self.round_kinds)):
                self.step()

    def after_op(self) -> None:
        """Untimed clean-up and checks after an operation."""

    def final_check(self) -> None:
        """Untimed checks after the measuring loop."""

    def detail(self) -> dict[str, tuple[float, str]]:
        """Workload-specific named metrics: {name: (value, unit)}."""
        return {}


# -------------------------------------------------------------- pipeline


class Pipeline(Workload):
    name = "pipeline"
    # the operations of one iteration
    round_kinds = ("run_etl", *["sink"] * MICRO_BATCHES, "run_models", "run_reports")

    def __init__(self, *a, fingerprints: dict | None = None, **kw):
        super().__init__(*a, **kw)
        self.pinned = fingerprints or {}
        self.fingerprint: dict | None = None
        self.storage_amp = 0.0
        self.stage = 0  # the stage the next op() runs
        self.ran = 0  # the stage the last op() ran
        self.lh: HealthcareLakehouse | None = None
        self.routes: dict | None = None
        self.statuses: dict | None = None
        self.reference: dict | None = None

    def setup(self) -> None:
        with self.phase("inputs"):
            self.make_inputs()
        self.warm_up()  # the cold iteration; it also takes the fingerprint
        # the final parity check's reference; made here, it also warms
        # run_etl before the measured iterations
        with self.phase("reference"), self.attempt("run_etl reference"):
            self.reference = self.reference_zones()

    def make_inputs(self) -> None:
        size = self.size
        gen = HealthcareDataGenerator(seed=self.seed)
        self.batch = gen.generate_messages(size["batch_messages"])
        self.micro = [gen.generate_messages(size["micro_messages"])
                      for _ in range(MICRO_BATCHES)]
        self.cfg = EngineConfig(as_of=gen.now)
        self.raw_dir = os.path.join(self.work_dir, "raw")
        write_lines(os.path.join(self.raw_dir, "batch.jsonl"), self.batch)
        self.micro_paths = [os.path.join(self.work_dir, "micro", f"batch-{i:03d}.jsonl")
                            for i in range(MICRO_BATCHES)]
        for path, msgs in zip(self.micro_paths, self.micro):
            write_lines(path, msgs)
        self.raw_bytes = dir_bytes(self.work_dir)
        self.batch_routes = expected_routes(self.batch)
        self.zone_routes = expected_routes(self.batch + sum(self.micro, []))

    @property
    def key(self) -> str:
        s = self.size
        return f"{self.seed}:{s['batch_messages']}+{MICRO_BATCHES}x{s['micro_messages']}"

    def op(self) -> tuple[str, int]:
        stage = self.ran = self.stage
        self.stage = (stage + 1) % len(self.round_kinds)
        if stage == 0:
            return self.etl()
        if stage <= MICRO_BATCHES:
            return self.sink_batch(stage - 1)
        if stage == MICRO_BATCHES + 1:
            with self.timed():
                self.lh.run_models()
            return "run_models", 0
        self.statuses = None
        with self.timed():
            statuses = self.lh.run_reports()["gate_statuses"]
        self.statuses = dict(statuses)
        return "run_reports", 0

    def etl(self) -> tuple[str, int]:
        """A fresh warehouse, and the batch through run_etl. The last
        iteration's warehouse is kept for final_check()."""
        if self.lh is not None:
            shutil.rmtree(self.lh.warehouse, ignore_errors=True)
        wh = os.path.join(self.work_dir, f"wh-{self.attempted}")
        self.lh = HealthcareLakehouse(self.spark, wh, self.cfg)
        self.sink = make_etl_sink(wh, self.cfg, mode="snapshot")
        self.routes = self.statuses = None
        with self.timed():
            counts = self.lh.run_etl(self.raw_dir, txn_id=f"batch-{self.seed}")
        self.routes = {k: int(v) for k, v in counts.items()}
        return "run_etl", len(self.batch)

    def sink_batch(self, batch_id: int) -> tuple[str, int]:
        batch_df = self.spark.read.text(self.micro_paths[batch_id])
        with self.timed(), self.span("streaming.pipeline.etl_sink"):
            self.sink(batch_df, batch_id)
        return "sink", len(self.micro[batch_id])

    def after_op(self) -> None:
        """run_etl's route counts against the batch's messages, and the
        gate statuses against the recorded fingerprint (or, for a seed
        with none, the first iteration's). The first iteration also
        takes the full fingerprint."""
        if self.ran == 0 and self.routes is not None:
            self.check(self.routes == self.batch_routes,
                       f"run_etl routes {self.routes} != expected {self.batch_routes}")
        if self.ran != len(self.round_kinds) - 1 or self.statuses is None or self.routes is None:
            return
        pinned = self.pinned.get(self.key)
        if self.fingerprint is None:
            self.take_fingerprint(pinned)
        gates = (pinned or self.fingerprint)["gates"]
        self.check(self.statuses == gates, f"gates {self.statuses} != recorded {gates}")

    def take_fingerprint(self, pinned: dict | None) -> None:
        self.fingerprint = self.fingerprint_of(self.lh, self.routes, self.statuses)
        self.storage_amp = (
            dir_bytes(self.lh.zone_path("processed")) + dir_bytes(self.lh.zone_path("curated"))
        ) / self.raw_bytes
        want = {e: self.zone_routes[e] for e in ENTITIES}
        self.check(self.fingerprint["zone_rows"] == want,
                   f"zone rows {self.fingerprint['zone_rows']} != routed {want}")
        self.check(pinned in (None, self.fingerprint),
                   f"fingerprint {self.fingerprint} != recorded {pinned}")

    def final_check(self) -> None:
        with self.phase("final_check"):
            with self.attempt("fingerprint of the last iteration"):
                fp = self.fingerprint_of(self.lh, self.routes, self.statuses)
                self.check(fp == self.fingerprint, f"fingerprint drifted: {fp}")
            with self.attempt("batch/stream parity"):
                self.parity()

    def reference_zones(self) -> dict:
        """Zone rows (count, hash) and error rows of run_etl over the
        batch and every micro-batch at once."""
        raw = os.path.join(self.work_dir, "ref-raw")
        write_lines(os.path.join(raw, "all.jsonl"), self.batch + sum(self.micro, []))
        ref = HealthcareLakehouse(self.spark, os.path.join(self.work_dir, "ref"), self.cfg)
        counts = ref.run_etl(raw, snapshot=True)
        return {"errors": counts["unknown"],
                **{e: zone_digest(ref.read_processed(e)) for e in ENTITIES}}

    def parity(self) -> None:
        """The zones and error rows of run_etl plus the sink must equal
        those of run_etl over the same messages at once."""
        want = self.reference or {}
        got = {"errors": self.spark.read.json(self.lh.zone_path("errors")).count(),
               **{e: zone_digest(self.lh.read_processed(e)) for e in ENTITIES}}
        for k, v in got.items():
            self.check(v == want.get(k), f"{k}: {v} != run_etl over the same messages: "
                                         f"{want.get(k)}")

    def fingerprint_of(self, lh, routes, statuses) -> dict:
        curated = {
            t: self.spark.read.parquet(lh.zone_path("curated", t)) for t in CURATED
        }
        return {
            "routes": dict(routes),
            "zone_rows": {e: lh.read_processed(e).count() for e in ENTITIES},
            "curated_rows": {t: df.count() for t, df in curated.items()},
            "fact_hash": str(frame_hash(curated["fact_patient_encounters"])),
            "gates": dict(statuses),
        }

    def detail(self) -> dict[str, tuple[float, str]]:
        return {"storage_amp": (self.storage_amp, "ratio")}


# ---------------------------------------------------------- query_basket


class QueryBasket(Workload):
    name = "query_basket"
    round_kinds = BASKET

    def setup(self) -> None:
        from tools.check_corpus import compare_one, make_oracle_connection

        self.sf_dir = os.path.join(self.work_dir, "tables")
        check_dir = os.path.join(self.work_dir, "check-tables")
        with self.phase("inputs"):
            corpus_tables.write_tables(self.sf_dir, self.seed, self.size["query_sf"])
            corpus_tables.write_tables(check_dir, self.seed, self.size["check_sf"])
        self.queries = corpus.queries()
        oracles = corpus.oracle_sql()
        con = make_oracle_connection(check_dir)
        try:
            with self.phase("oracle_check"):
                for name in BASKET:
                    with self.attempt(f"oracle check {name}"):
                        status, detail = compare_one(
                            self.spark, con, check_dir, name, self.queries[name], oracles[name]
                        )
                        self.after_op()
                        self.check(status == "pass", f"{name}: {status} {detail}")
        finally:
            con.close()
        self.rng = random.Random(self.seed)
        self.order: collections.deque[str] = collections.deque()
        # the checked pass collects at sf 0.01; the first noop pass at
        # sf 0.1 after it still took 1.3-1.6x the CPU of later ones
        self.warm_up()

    def op(self) -> tuple[str, int]:
        if not self.order:
            names = list(BASKET)
            self.rng.shuffle(names)
            self.order.extend(names)
        name = self.order.popleft()
        with self.timed(), self.span(f"corpus.{name}"):
            self.queries[name](self.spark, self.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        return name, 1

    def after_op(self) -> None:
        # the loop owns cache lifetime: a frame a query leaves cached
        # must not serve the next pass
        self.spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in (Pipeline, QueryBasket)}
