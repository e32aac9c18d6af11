"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints THREE JSON lines — verbose per-rep traces first, the detail
blocks second, and the compact headline summary LAST (the line the
driver parses; asserted ≤1,500 chars + json-round-trippable so the
driver's 2,000-char tail-of-stdout capture can never clip it — the
r5 lesson, re-learned the hard way in r9 when the sf1/sf3/
normalization maps folded into one line pushed it past the window
and BENCH_r09 recorded "parsed": null):
  {"metric": "headline_total_wall", "value": N, "unit": "sec",
   "queries": {...}, "sf": ..., "controls_ratio_vs": [...],
   "sf1_total": N, "sf3_total": N, "sf3_x3_worst": [...]}

The bench_detail line (line 2) carries the full r9 additions
(VERDICT r8 items 5+6): (a) "x_vs_prev_control_normalized" —
per-query round-over-round wall ratios divided by the CONTROLS'
(j1_band_join, dedup_exact) geomean ratio against the newest
PARSEABLE BENCH_r*.json (ADVICE r9: walk back past parsed:null
artifacts; emit an explicit "unavailable" marker, never silence), so
machine drift between sessions reads as ~1.0 and only real plan
changes stand out; and (b) "sf1"/"sf3" blocks — the scaling curve for
the scale-sensitive subset (benchdata/sf{1,3}, ×10/×30 replication):
"x3_vs_sf1" ≈ 3 is linear, ≳6 on a join/dedup heavy is the
super-linear red flag. The final line echoes compact scalars of both.

Headline set: the operators that dominate 100 TB cost — the wide
aggregation (A2), the band join + as-of reduction (J1/J3), the
window (W1), the daily rollup (A8), tumbling windows (T1), plus the
LLM-pipeline heavies (exact dedup, minhash-LSH, brute-force ANN).
Each query runs a count() action (full execution, no driver collect
of payload rows).

Protocol note (r5, closing the r4 "dedup_spans +26% / text_bm25_topk
+15% regression" item): the bisect found NO code regression — both
operators' isolated steady state (7 reps, quiet machine) is ~1.12 s,
BETWEEN the r3 (1.00/1.035) and r4 (1.26/1.19) recorded values, and
both rounds' per-rep traces were still declining at rep 3 (r3 spans
1.457→1.051→1.000; r4 1.755→1.288→1.260). The multi-stage text
heavies amortize codegen over ~5-7 reps, so a fixed min-of-3 samples
a still-declining curve and round-over-round deltas within ~±15% on
these queries are protocol noise, not plan changes. Fix: adaptive
reps — every query runs at least `reps` times and keeps going (cap
`SPARK_GRAFT_BENCH_MAX_REPS`, default 7) while the latest run still
improves the best by >3%; stable queries stop at the floor, the
heavies run to convergence.

Protocol note (late r6, closing the "j1 band family x3.2-3.8 sf1
growth" watch item): the growth was NOT band-match fan-out — the
64 MB autoBroadcastJoinThreshold was silently broadcasting the pruned
6M-row lineitem side at sf1 (estimate just under the bar), and the
single-threaded hash-relation build dominated. At Spark's stock 10 MB
threshold (session.py) the join plans as a 32-way sort-merge:
j1 sf1 3.7 s -> 1.3 s isolated, and the sf1/sf0.1 ratio drops from
~3.2 to ~1.0. Verified at sf3 (x30): every heavy's x3-vs-sf1 ratio is
1.4-3.1 — at or below linear; no super-linear curve remains.

Protocol note (r8, closing the r7 "sf1 token-explode cluster" watch
item — dedup_spans +29% / j1_band_join_bucketed +22% /
text_heavy_hitters & tfidf_terms +16% / dedup_minhash_lsh +14% vs
r6): isolated 7-rep fresh-process runs per query found NO code
regression. Two confounds explained the whole cluster: (a) the r7
driver's sf1 numbers ran at reps=2 on curves still declining at rep
3-4 (this session's rep-1 walls were 4.5-9.7 s converging to 2.0-5.2
by rep 4), and (b) absolute walls track machine state — the CONTROL
queries (plain j1 1.11 s vs r7's 0.918; dedup_exact 0.44 vs 0.304)
were inflated 20-45% in the same session with identical code, so
cross-round deltas must be read against a same-session control.
Ratio-normalized (bucketed-j1 / plain-j1: 4.55 this session vs r7's
5.23), every cluster query is at or below its r7 level. The
check_unique_left guard was also measured and acquitted (min 5.051 s
with vs 4.999 s without at sf1 — noise). Fixes: sf1 rep floor raised
2→3 (cap 4→5), and j1_band_join stays in the sf1 basket as the
permanent same-session control.

Protocol note (r13, closing BOTH VERDICT r12 bench items):
(a) "three rows >1.4x r11 after control normalization" (a2_wide_agg
~1.49 / dedup_minhash_lsh ~1.50 / ann_ivf_topk ~1.43 /
chunk_documents ~1.42 normalized) — NOISE VERDICT. A fresh-process
5-7-rep steady run (start load <1) read all four at raw 0.59-0.98 vs
BOTH r11 and r12 (normalized vs r11: a2 0.94, minhash 0.92, ivf
1.27, chunk 0.98; vs r12: 0.63/0.61/0.89/0.69 — controls_ratio 0.774
vs r11, 0.955 vs r12). Untouched code cannot regress and then
un-regress on its own; the r12 normalized inflation was the
CONTROLS running fast in that artifact (0.81x r11), not the watch
queries running slow — exactly the ±40% per-query cross-run
normalization noise the r12 calibration documented. Shared
infrastructure (session config, readers, testdata layout) acquitted.
(b) "a8_daily_rollup sf3 x3 = 4.42" — REP-SPREAD VERDICT. Two fresh
5-7-rep sf1/sf3 pairs read x3 = 1.25 and 1.14 (linear; walls sf1
~0.16-0.18 s, sf3 ~0.20-0.21 s). a8's absolute walls are sub-second
and fixed-overhead-dominated, so the sf3 floor-2/cap-3 probe can
catch a cold pair against a warm sf1 min and multiply the overhead
ratio into a fake super-linear reading; the plan is one exchange +
hash agg as designed. x3 readings on sub-0.5 s walls should be read
against reps, not taken as scale curves.

Protocol note (r14, closing VERDICT r13 items 2+3+4):
(a) the r13 drift cluster (sketch_profile 1.92x / hierarchy_roots
1.61x / tfidf_terms 1.52x / ann_ivf_topk 1.50x raw) — NOISE VERDICT.
Isolated fresh-process 5-7-rep runs (start load 0.20) read the
controls themselves at 1.35x r12 / 1.22x r13 in the same session;
control-normalized, the cluster sits at 1.05 / 1.10 / 0.84 / 0.73 vs
r12 (ann_ivf_topk raw 3.308 s, BELOW r12's 3.356) — none of their
code paths changed in r13, consistent with the r11->r12 bounce of
the same queries. (b) dedup_spans x3 re-read: fresh sf1/sf3 pairs
give x3 = 1.78 (sf1 min 1.91 s, sf3 min 3.392 s) vs the r13 driver
reading of 4.04 — sub-linear on a quiet box; the interpreted-HOF
chop stays (no vectorization warranted; watch item CLOSED unless a
quiet-box reading exceeds 4 again). (c) BASKET CHANGE, r14: the
ann_ivf_topk headline row (whole verified pipeline: index build +
search + embedded exact truth — fixed-cost dominated at bench n,
22% of the r13 headline) is REPLACED by ann_ivf_search — ivf_search
over a prebuilt SAVED cid-partitioned index (built+saved+reloaded
once per run, untimed; build wall reported as ann_ivf_build on
the bench_detail line). The headline row now times exactly what a
serving user pays per query batch; the build's scaling story stays
covered by the serving_ivf probe's sf0.1/sf1/sf3 walls (the x10
scale witness, unchanged). Cross-round per-query comparison for
"ann_ivf_topk" therefore ENDS at r13 (the name no longer appears);
ann_ivf_search starts its own series at r14. The corpus/driver entry
ann_ivf_topk is untouched (still oracle-gated via its invariants
twin, still the full verified pipeline).

Protocol note (r6, closing the r5 "a2_wide_agg +52% / lm_perplexity
+86%" watch items): isolated 7-rep steady state (quiet machine) —
a2_wide_agg 0.25-0.28 s, BELOW both recorded rounds (r4 0.42 / r5
0.64): pure protocol noise, r5's trace [1.456, 0.637, 0.649] stopped
while still declining. lm_perplexity had a REAL, named cause: the r5
cache-release fix eagerly localCheckpointed the LM, serializing the
LM-build and scoring jobs that the lazy shape pipelines as
concurrent broadcast builds — steady state 0.58-0.64 s eager vs
~0.32 lazy at sf0.1. Fixed: train_unigram_lm(materialize=False) in
the corpus entry (driver/bench loops own cache lifecycle); steady
state back to ~0.40 s, within 10% of r4's 0.38.
"""

from __future__ import annotations

import json
import os
import sys
import time

from healthcare_data_lakehouse_using_gcp_spark import corpus
from healthcare_data_lakehouse_using_gcp_spark.session import get_spark

HEADLINE = [
    "a2_wide_agg",
    "j1_band_join",
    "j3_asof_nearest",
    "j3_asof_min_by",
    "w1_row_number",
    "a8_daily_rollup",
    "t1_tumbling_window",
    "f7_arithmetic",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    # round-3 additions: span-level substring dedup and BM25 lexical
    # retrieval — the two new corpus-scale text heavies
    "dedup_spans",
    "text_bm25_topk",
    # round-4 additions: RAG chunking (explode-heavy, zero-shuffle) and
    # unigram-LM perplexity (explode + broadcast join + agg)
    "chunk_documents",
    "lm_perplexity",
    # round-6: the date-bucketed band-join variant benched NEXT TO the
    # plain plan (VERDICT r5 item 6). Honest expectation on THIS data
    # shape (~4 lineitems/order, dates clustered near the band): the
    # 3× explode overhead makes it ~1.5× slower — bucketing's win
    # regime (many rows/key, wide date spread) is pinned by the
    # deterministic candidate-pair test in test_joins.py instead
    "j1_band_join_bucketed",
    # round-6 additions: bounded-memory heavy hitters (mapInPandas MG
    # pass + candidate recount) and the sketch-vs-exact profile (HLL +
    # exact distinct + percentiles in one hash-agg) — per-query
    # numbers are the comparable unit across rounds; the headline sum
    # covers 18 queries from r6 on (16 in the r6 mid-round runs, 15
    # in r4/r5)
    "text_heavy_hitters",
    "sketch_profile",
    # round-6 third wave: TF-IDF keyword extraction (postings build +
    # doc-frequency join + per-doc rank window — a three-stage text
    # heavy) and batch CDC (full-outer key join over the whole fact) —
    # headline sum covers 20 queries from here on; per-query minimums
    # stay the cross-round unit
    "tfidf_terms",
    "cdc_snapshot_diff",
    # round-8 (VERDICT r7 item 8): the sketch family gets a bench row —
    # count-min build (explode ×depth + cell hash-agg) + broadcast
    # probe join; headline sum covers 21 queries from r8 on
    "cms_frequency",
    # late-r8: incremental join-view maintenance — three delta-sized
    # joins + one consolidation hash-agg; the maintain-don't-recompute
    # path's cost is the number to watch against a full join rebuild.
    # Headline sum covers 22 queries from here on
    "j10_join_delta",
    # round-11 (VERDICT r10 item 4): last-touch attribution — the
    # as-of union+window plan (two event classes unioned, one keyed
    # LOCF window, credit agg) is the scale-interesting as-of shape —
    # and the IVF ANN entry. Honest scope note: the corpus entry
    # times the WHOLE verified pipeline — 3-pass index build +
    # probe-pruned search + the embedded brute-force exact-truth
    # stage — so its wall is linear-with-small-constant by
    # construction, dominated at bench scales by fixed per-job
    # overheads (measured x3_vs_sf1 ≈ 1). The serving-path search
    # over a PREBUILT index (ivf_search, zero corpus passes at query
    # time) is the genuinely sub-linear story and is covered by
    # tests/test_llm_ops.py save/load+search; it has no standalone
    # bench row because every corpus entry must stay inside the
    # oracle gate. Headline sum covers 24 queries from r11 on
    "attribution_last_touch",
    # r14 (VERDICT r13 item 4): "ann_ivf_search" replaces the
    # ann_ivf_topk pipeline row — serving-path ivf_search over a
    # prebuilt saved index; the build runs once per bench, untimed
    # (wall on the bench_detail line). NOT a corpus entry: the timed
    # callable is installed by main() in SPECIAL_HEADLINE.
    "ann_ivf_search",
    # late-r12 additions: the 2-D skyline (distinct + ONE keyed window
    # scan — the multi-criteria OLAP shape; wall should track the
    # distinct, x-ratios near-linear) and hierarchy flattening — the
    # basket's first ITERATIVE-algorithm row (pointer doubling:
    # O(log depth) keyed self-joins, one localCheckpoint + one agg per
    # round). Its wall is ROUND-dominated (fixed per-round job costs ×
    # ~4 rounds at these depths), so expect flat-ish x-ratios — growth
    # would mean the per-round joins stopped being the cheap part.
    # Headline sum covers 26 queries from r12 on
    "skyline_parts",
    "hierarchy_roots",
]

# Secondary sf1 pass (VERDICT r3 item 5): the scale-sensitive subset —
# where a hidden shuffle problem would first show super-linear growth.
# Runs over repo-local benchdata/sf1 (key-shifted ×10 replication of
# the read-only driver sf0.1 — tools/make_benchdata.py), generated on
# first use; disable with SPARK_GRAFT_BENCH_SF1=0.
SF1_SUBSET = [
    "a2_wide_agg",
    "j1_band_join",
    "j3_asof_min_by",
    "w1_row_number",
    "a8_daily_rollup",
    "t1_tumbling_window",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    # round-5 additions (VERDICT r4 item 3): the text heavies whose
    # data grows fastest with corpus size — span chop/agg, BM25
    # postings, chunk explode, LM explode+join
    "dedup_spans",
    "text_bm25_topk",
    "chunk_documents",
    "lm_perplexity",
    # round-6: scale growth of the bucketed band join vs plain j1,
    # and of the Misra-Gries heavy-hitter pass (state stays O(capacity)
    # per task regardless of input size — its wall should scale with
    # the token scan, near-linearly)
    "j1_band_join_bucketed",
    "text_heavy_hitters",
    # round-6 third wave: the TF-IDF pipeline's growth is the postings
    # frame (tokens) plus a vocab-keyed join — both should scale
    # near-linearly; super-linear growth here would mean the df join
    # stopped broadcasting
    "tfidf_terms",
    # late-r8: join IVM at scale — the three bilinearity terms keyed on
    # o_custkey; super-linear growth would mean the delta sides
    # stopped behaving delta-sized (plan regressed to a full rebuild)
    "j10_join_delta",
    # round-11 (VERDICT r10 item 4): attribution's as-of union+window
    # should scale with the event volume. r14: ann_ivf_topk's sf1/sf3
    # rows DROPPED with the headline row (its x3 read fixed costs,
    # not scaling — the serving_ivf probe's sf0.1/sf1/sf3 walls are
    # the IVF scale witness now)
    "attribution_last_touch",
    # late-r12: skyline's distinct + window scan should scale with the
    # part count; hierarchy's per-round join cost scales with keys but
    # round COUNT only with log(depth) — x10 data, same ~4 rounds
    "skyline_parts",
    "hierarchy_roots",
]


# Same-session controls for cross-round normalization (VERDICT r8
# item 6): these two queries' code paths are stable across rounds, so
# their cur/prev ratio measures MACHINE drift, not plan changes. Every
# other query's round-over-round ratio is divided by the controls'
# geometric-mean ratio before anyone reads it as a regression — the
# r5/r7/r8 noise adjudications, folded into the artifact itself.
CONTROLS = ["j1_band_join", "dedup_exact"]


def _control_normalized(
    cur: dict[str, float], prev: dict[str, float] | None
) -> dict | None:
    """Per-query cur/prev wall ratio divided by the controls' geomean
    ratio. ~1.0 = moved with the machine; >1.3 after normalization is
    a real candidate regression worth a fresh-process adjudication."""
    if not prev:
        return None
    import math

    ratios = [
        cur[c] / prev[c] for c in CONTROLS if cur.get(c) and prev.get(c)
    ]
    if not ratios:
        return None
    control_ratio = math.exp(sum(math.log(r) for r in ratios) / len(ratios))
    return {
        "controls_ratio": round(control_ratio, 3),
        "per_query": {
            q: round((cur[q] / prev[q]) / control_ratio, 2)
            for q in cur
            if prev.get(q)
        },
    }


def _prev_bench(repo: str) -> tuple[dict | None, str | None]:
    """Newest BENCH_r*.json in the repo root whose summary actually
    parsed (ADVICE r9: BENCH_r09 has ``parsed: null`` because its tail
    was clipped — walking r(N-1), r(N-2), ... finds the newest usable
    baseline instead of silently yielding no normalization)."""
    import glob as _glob
    import re as _re

    numbered: list[tuple[int, str]] = []
    for path in _glob.glob(os.path.join(repo, "BENCH_r*.json")):
        m = _re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            numbered.append((int(m.group(1)), path))
    for _, best in sorted(numbered, reverse=True):
        try:
            with open(best) as f:
                doc = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        # the driver wraps bench.py's summary line under "parsed"
        if isinstance(doc.get("parsed"), dict):
            doc = doc["parsed"]
        elif "parsed" in doc and not isinstance(doc.get("parsed"), dict):
            continue  # driver artifact whose tail failed to parse
        if isinstance(doc.get("queries"), dict):
            return doc, os.path.basename(best)
    return None, None


def _timed_runs(
    run_query, clear_cache, floor_reps: int, max_reps: int
) -> list[float]:
    """Adaptive-reps timing: at least ``floor_reps`` runs, then keep
    running while the latest run improves the best-so-far by >3%
    (codegen on the multi-stage heavies amortizes over ~5-7 reps;
    stable queries stop at the floor). Returns all run walls."""
    runs: list[float] = []
    while True:
        clear_cache()
        t0 = time.perf_counter()
        run_query()
        runs.append(round(time.perf_counter() - t0, 3))
        if len(runs) >= max_reps:
            break
        if len(runs) >= floor_reps and runs[-1] >= min(runs[:-1]) * 0.97:
            break
    return runs


def finalize_headline_line(out: dict, total: float) -> str:
    """Truncation-safe final-line emission (ADVICE r9/r10): the line
    MUST survive the driver's 2,000-char stdout-tail capture whole.
    NOT an assert — asserts vanish under python -O, and crashing here
    would discard the whole completed run (the very parsed:null
    artifact failure this protects against). On overflow, degrade:
    drop the per-query map (it survives on the bench_detail line),
    then as a last resort keep only the contract scalars; log each
    degradation to stderr."""
    line = json.dumps(out)
    if len(line) > 1500:
        print(json.dumps({
            "metric": "bench_warning",
            "warning": f"headline line {len(line)} chars > 1500; "
                       "emitting trimmed headline (queries map dropped "
                       "— read it from the bench_detail line)",
        }), file=sys.stderr)
        out = dict(out)
        out.pop("queries", None)
        out["queries_dropped_see_bench_detail"] = True
        line = json.dumps(out)
        if len(line) > 1500:
            out = {k: out[k] for k in
                   ("metric", "value", "unit", "sf", "reps", "protocol")
                   if k in out}
            line = json.dumps(out)
    if json.loads(line).get("value") != total:  # round-trip paranoia
        print(json.dumps({"metric": "bench_warning",
                          "warning": "headline round-trip mismatch"}),
              file=sys.stderr)
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = corpus.queries()

    # Warm the JVM outside timing: file metadata cache, then the
    # generic engine machinery every query pays for once per session —
    # shuffle service init, codegen/JIT of Spark internals, cache
    # manager. The warm plan is tiny synthetic data (range(1000)) and
    # shares NO generated code with the benchmarked queries, so their
    # own codegen compile time is still measured.
    corpus.a1_global_count(spark, sf_dir).collect()
    from pyspark.sql import functions as F

    w = spark.range(1000).select(
        F.col("id"), F.explode(F.array(F.lit(1), F.lit(2))).alias("x")
    )
    wg = w.groupBy("id").agg(F.min("x").alias("m")).persist()
    wg.join(wg.withColumnRenamed("m", "m2"), "id").count()
    wg.unpersist()

    # r14 serving-path IVF headline fixture (protocol note (c)):
    # build + save (partitionBy cid) + reload ONCE, untimed — the
    # "ann_ivf_search" headline row then times ONLY ivf_search over
    # the reloaded parquet index (probed-cid broadcast join, DPP-
    # pruned scan), the wall a serving user pays per query batch.
    # Same sqrt(n) centroid sizing and shared _ann_queries fixture as
    # the serving_ivf scale probe, so the two read the same plan.
    import math as _math
    import shutil as _shutil
    import tempfile as _tempfile

    from healthcare_data_lakehouse_using_gcp_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
        load_ivf_index,
        save_ivf_index,
    )

    _ivf_tmp = _tempfile.mkdtemp(prefix="bench_ivf_headline_")
    _ann_e, _ann_q = corpus._ann_queries(spark, sf_dir)
    _ann_n = _ann_e.count()
    _ann_ncent = max(16, int(_math.isqrt(_ann_n)))
    # timer starts AFTER the fixture count (ADVICE r14: the r14
    # reading included corpus._ann_queries + count, overstating the
    # build) and the detail entry names what the wall covers —
    # build + save(partitionBy cid) + reload, the full one-time cost
    # a serving deployment pays before its first query batch
    _t0 = time.perf_counter()
    _built_idx, _built_cents = build_ivf_index(_ann_e, n_centroids=_ann_ncent)
    save_ivf_index(_built_idx, _built_cents, _ivf_tmp)
    _ivf_idx, _ivf_cents = load_ivf_index(spark, _ivf_tmp)
    ivf_build_wall = round(time.perf_counter() - _t0, 3)
    special_headline = {
        "ann_ivf_search": lambda: ivf_search(
            _ivf_idx, _ivf_cents, _ann_q, k=10, n_probe=6
        ).count(),
    }

    # Protocol: adaptive reps per query, report the MIN (see module
    # docstring). At sf0.1 single-run walls are dominated by per-plan
    # codegen compile + machine-load noise (a 1.5x band measured
    # across identical code); the converged min is the steady-state
    # number — at 100 TB codegen amortizes to zero. Data caches are
    # cleared between reps so only code-warmth carries (each rep
    # re-materializes its own persisted frames); the codegen cache
    # staying warm across one query's reps is the point of the
    # protocol. It also survives a pass over the whole basket only
    # because session.get_spark sizes it to 1,000 classes; Spark's
    # default of 100 is below a pass's working set.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    max_reps = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_REPS", "7"))
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    try:
        for name in HEADLINE:
            run_fn = special_headline.get(name) or (
                lambda n=name: qs[n](spark, sf_dir).count()
            )
            runs = _timed_runs(
                run_fn,
                spark.catalog.clearCache,
                reps,
                max_reps,
            )
            timings[name] = min(runs)
            all_runs[name] = runs
        spark.catalog.clearCache()
    finally:
        # a query raising mid-loop must not leak the saved IVF index
        # (a full embeddings copy) in /tmp — same try/finally as the
        # serving_ivf probe's fixture
        _shutil.rmtree(_ivf_tmp, ignore_errors=True)
    total = round(sum(timings.values()), 3)

    # --- secondary sf1 pass (scale check; same protocol, fewer reps) ---
    repo = os.path.dirname(os.path.abspath(__file__))
    sf1_block = None
    if os.environ.get("SPARK_GRAFT_BENCH_SF1", "1") != "0" and sf == 0.1:
        sf1_dir = os.environ.get(
            "SPARK_GRAFT_SF1_DIR", os.path.join(repo, "benchdata", "sf1")
        )
        if not os.path.isdir(sf1_dir):
            import subprocess
            import sys as _sys

            subprocess.run(
                [_sys.executable, os.path.join(repo, "tools", "make_benchdata.py"),
                 "10", sf1_dir],
                check=True,
                capture_output=True,
            )
        # r8 (VERDICT r7 item 8): floor raised 2→3 and cap 4→5 so the
        # token-explode heavies' still-declining codegen curves don't
        # masquerade as round-over-round regressions (the r7 cluster
        # adjudicated as rep-spread noise at reps=2)
        reps1 = int(os.environ.get("SPARK_GRAFT_BENCH_SF1_REPS", "3"))
        max_reps1 = int(os.environ.get("SPARK_GRAFT_BENCH_SF1_MAX_REPS", "5"))
        sf1_timings: dict[str, float] = {}
        sf1_runs: dict[str, list[float]] = {}
        for name in SF1_SUBSET:
            runs = _timed_runs(
                lambda n=name: qs[n](spark, sf1_dir).count(),
                spark.catalog.clearCache,
                reps1,
                max_reps1,
            )
            sf1_timings[name] = min(runs)
            sf1_runs[name] = runs
        spark.catalog.clearCache()
        sf1_block = {
            "sf": 1.0,
            "value": round(sum(sf1_timings.values()), 3),
            "queries": sf1_timings,
            "reps": reps1,
            "max_reps": max_reps1,
            "all_runs": sf1_runs,
            # per-query wall ratio vs the sf0.1 min for the same query:
            # ~linear (≈10) or below is healthy; super-linear growth on
            # the join/dedup heavies is the scale red flag
            "x_vs_sf0.1": {
                n: round(sf1_timings[n] / timings[n], 2)
                for n in sf1_timings
                if timings.get(n)
            },
        }

    # --- sf3 scale probe (VERDICT r8 item 5): a THIRD point on the
    # scaling curve for the scale-sensitive subset. sf1/sf0.1 alone
    # cannot distinguish linear from quadratic once codegen noise is
    # in the mix; x3_vs_sf1 ≈ 3 is linear, ≳6 on a join/dedup heavy is
    # the super-linear red flag worth a fresh-process adjudication.
    # Cheap reps (floor 2 / cap 3): the probe reads RATIOS, not walls.
    sf3_block = None
    if (
        os.environ.get("SPARK_GRAFT_BENCH_SF3", "1") != "0"
        and sf == 0.1
        and sf1_block is not None
    ):
        sf3_dir = os.environ.get(
            "SPARK_GRAFT_SF3_DIR", os.path.join(repo, "benchdata", "sf3")
        )
        if not os.path.isdir(sf3_dir):
            import subprocess
            import sys as _sys

            subprocess.run(
                [_sys.executable, os.path.join(repo, "tools", "make_benchdata.py"),
                 "30", sf3_dir],
                check=True,
                capture_output=True,
            )
        reps3 = int(os.environ.get("SPARK_GRAFT_BENCH_SF3_REPS", "2"))
        max_reps3 = int(os.environ.get("SPARK_GRAFT_BENCH_SF3_MAX_REPS", "3"))
        sf3_timings: dict[str, float] = {}
        sf3_runs: dict[str, list[float]] = {}
        for name in SF1_SUBSET:
            # r13 (the a8_daily_rollup x3=4.42 adjudication): queries
            # whose sf1 wall is sub-0.5 s are fixed-overhead-dominated,
            # and a floor-2 sf3 probe catching a cold pair against a
            # warm sf1 min multiplies that overhead into a fake
            # super-linear x3 reading. One extra floor/cap rep on the
            # sub-second rows costs ~a second total and removes the
            # failure mode; the heavies keep the cheap probe.
            subsec = sf1_block["queries"].get(name, 1.0) < 0.5
            runs = _timed_runs(
                lambda n=name: qs[n](spark, sf3_dir).count(),
                spark.catalog.clearCache,
                reps3 + 1 if subsec else reps3,
                max_reps3 + 1 if subsec else max_reps3,
            )
            sf3_timings[name] = min(runs)
            sf3_runs[name] = runs
        spark.catalog.clearCache()
        sf1_q = sf1_block["queries"]
        sf3_block = {
            "sf": 3.0,
            "value": round(sum(sf3_timings.values()), 3),
            "queries": sf3_timings,
            "reps": reps3,
            "max_reps": max_reps3,
            "all_runs": sf3_runs,
            "x3_vs_sf1": {
                n: round(sf3_timings[n] / sf1_q[n], 2)
                for n in sf3_timings
                if sf1_q.get(n)
            },
        }

    # --- serving-path ANN probe (r11; since r14 the SOLE IVF scale
    # witness — the ann_ivf_topk pipeline row left the basket and
    # sf1/sf3 subsets, see protocol note (c)): the number users pay
    # at serving time is ivf_search over a PREBUILT index. Measure
    # exactly that, with n_centroids scaling as sqrt(n) (the standard
    # IVF sizing): search touches n_probe·n/sqrt(n) vectors, so the
    # sf3/sf1 wall ratio should sit near sqrt(3)≈1.7, NOT 3 — the
    # sub-linear story, measured honestly instead of claimed. Build
    # cost is excluded here and in the ann_ivf_search headline row
    # (amortized across queries in the serving regime; the one-time
    # build wall is reported as ann_ivf_build on the detail line).
    serving_block = None
    if sf1_block is not None and sf3_block is not None:
        import math as _math
        import shutil as _shutil
        import tempfile as _tempfile

        from healthcare_data_lakehouse_using_gcp_spark.operators.similarity import (
            build_ivf_index,
            ivf_search,
            load_ivf_index,
            save_ivf_index,
        )

        # Measure the REAL serving path (code-review r11): build,
        # SAVE the index partitionBy(cid), and time ivf_search over
        # the RELOADED parquet index — the probed-cid broadcast join
        # then dynamic-partition-prunes the scan, which an in-memory
        # frame cannot do (it would full-scan every rep and quietly
        # re-linearize the number). Queries come from the SAME shared
        # fixture the basket's ann entries use (corpus._ann_queries),
        # so the probe can never drift from what ann_ivf_topk scores.
        serving_block = {
            "metric_note": "ivf_search over a SAVED cid-partitioned "
                           "index (DPP-pruned scan), "
                           "n_centroids=sqrt(n), n_probe=6"
        }
        walls = {}
        # derive the base label from the PARSED sf, not a hardcoded
        # 'sf0.1' (ADVICE r11): SPARK_GRAFT_SF_DIR at another base
        # scale would otherwise emit mislabeled walls and a
        # wrong-named ratio (the block currently only runs when
        # sf == 0.1, but the label must not lie if that gate moves)
        base_label = f"sf{sf:g}"
        tmp_root = _tempfile.mkdtemp(prefix="bench_ivf_idx_")
        try:
            for label, d in ((base_label, sf_dir),
                             ("sf1", sf1_dir), ("sf3", sf3_dir)):
                e, q = corpus._ann_queries(spark, d)
                n_rows = e.count()
                ncent = max(16, int(_math.isqrt(n_rows)))
                indexed, cents = build_ivf_index(e, n_centroids=ncent)
                path = os.path.join(tmp_root, label.replace(".", "_"))
                save_ivf_index(indexed, cents, path)
                idx, cdf = load_ivf_index(spark, path)
                runs = _timed_runs(
                    lambda i=idx, c=cdf, qq=q: ivf_search(
                        i, c, qq, k=10, n_probe=6
                    ).count(),
                    lambda: None,  # index stays on disk; page cache warm
                    3,
                    5,
                )
                walls[label] = min(runs)
                serving_block[f"{label}_n"] = n_rows
                serving_block[f"{label}_centroids"] = ncent
        finally:
            _shutil.rmtree(tmp_root, ignore_errors=True)
        serving_block["walls"] = walls
        serving_block[f"x10_vs_{base_label}"] = round(
            walls["sf1"] / walls[base_label], 2
        )
        serving_block["x3_vs_sf1"] = round(walls["sf3"] / walls["sf1"], 2)
        serving_block["x10_key"] = f"x10_vs_{base_label}"
        spark.catalog.clearCache()

    # --- refresh-vs-rebuild probe (r15, VERDICT r14 item 4): the
    # IVF lifecycle's maintain-don't-rebuild cost, measured honestly.
    # Per fixture: build once untimed, append a drifted batch (the
    # corpus entry's planted-drift idiom), then time ivf_index_refresh
    # (split the 2 worst lists, local Lloyd) against a full
    # build_ivf_index re-cluster of the SAME grown corpus at the SAME
    # resulting centroid count.
    # Since r16 the TIMED refresh is the production maintain path:
    # list stats are carried as index metadata (ivf_list_stats at
    # build + merge_list_stats per append — both untimed here because
    # the maintain loop amortizes them into passes it already runs),
    # so the refresh itself runs ZERO corpus-wide passes (VERDICT r15
    # item 4's overhead shave). `refresh_scan_wall`/`scan_ratio`
    # keep the metadata-less cost visible (one corpus-wide scoring
    # agg more).
    # READ THE NUMBERS FOR WHAT THEY CAN WITNESS (r15 calibration,
    # quiet box): at bench n BOTH walls are scheduling-bound, not
    # data-bound — sf3's rebuild wall (60k rows) measured BELOW sf1's
    # (20k rows) on the same box, and the r15 scan-path ratio sat
    # ~1.3-1.4 because refresh paid ~4 driver round-trips (stats/
    # seed/means/count collects) that dominate at these sizes. What
    # the rows DO witness: (a) refresh's wall is FLAT from sf1 to sf3
    # at fixed refreshed-lists — its cost is independent of corpus
    # growth, which is the maintain-path property a 100 TB deployment
    # needs; (b) the fixed overhead is bounded (driver round-trips,
    # amortized to nothing against real-scale passes). The asymptotic
    # separation itself — refresh runs NARROW passes over only the
    # refreshed lists (cosine vs OWN centroid, broadcast remap) where
    # rebuild runs lloyd_iters+1 passes scoring every vector against
    # ALL k centroids (k×dim per vector vs dim) — is structural and
    # only partially witnessable under ~1e5 rows; read `ratio` (the
    # maintained-metadata path) for the crossover claim and
    # `scan_ratio` for the metadata-less fallback. One timed run
    # each; codegen warm from the serving probe.
    refresh_block = None
    if sf1_block is not None and sf3_block is not None:
        from healthcare_data_lakehouse_using_gcp_spark.operators.similarity import (
            build_ivf_index as _bld,
            ivf_index_append_with_stats as _apps,
            ivf_index_refresh as _rfr,
            ivf_list_stats as _lstats,
            merge_list_stats as _mstats,
        )
        from pyspark.sql import functions as _F

        refresh_block = {}
        for _label, _d in (("sf1", sf1_dir), ("sf3", sf3_dir)):
            e, _q = corpus._ann_queries(spark, _d)
            _n = e.count()
            _ncent = max(16, int(_math.isqrt(_n)))
            _idx, _cents = _bld(e, n_centroids=_ncent)
            # persist (not localCheckpoint): same materialization
            # contract for the refresh's multi-pass reads, but
            # DETERMINISTICALLY freed below — a leaked checkpoint RDD
            # would otherwise sit in executor storage through the
            # end-of-run controls-drift re-timing (code-review r15)
            _idx = _idx.persist()
            _idx.count()
            _drift = e.filter(_F.col("vec_id") < 200).select(
                (_F.col("vec_id") + 10_000_000).alias("vec_id"),
                _F.concat(
                    _F.array(_F.col("embedding")[0] + _F.lit(1.0)),
                    _F.slice("embedding", 2, _F.size("embedding") - 1),
                ).alias("embedding"),
            )
            _grown, _batch_stats = _apps(_idx, _cents, _drift)
            _grown = _grown.persist()
            _grown.count()
            try:
                # maintained metadata: base stats piggyback the build
                # pass and batch stats are batch-sized work inside
                # append_with_stats — both untimed (r16 overhead
                # shave, VERDICT r15 item 4). merge_list_stats moved
                # INSIDE the timed wall (r17, VERDICT r16 item 10):
                # it is the per-batch cost a real maintainer pays, so
                # timing it converges the metric back toward
                # like-for-like; it is driver-side arithmetic over
                # |lists|-sized python lists, so the wall reads the
                # same to the millisecond.
                _base_stats = _lstats(_idx, _cents)
                _t0 = time.perf_counter()
                _stats = _mstats(_base_stats, _batch_stats)
                _r_idx, _r_cents, _ = _rfr(
                    _grown, _cents, max_lists=2, split_factor=2,
                    lloyd_iters=1, list_stats=_stats,
                )
                _r_n = _r_idx.count()
                t_refresh = round(time.perf_counter() - _t0, 3)
                # scan-path refresh (no maintained stats): the cost a
                # caller pays without metadata — one corpus-wide
                # scoring agg more
                _t0 = time.perf_counter()
                _s_idx, _s_cents, _ = _rfr(
                    _grown, _cents, max_lists=2, split_factor=2,
                    lloyd_iters=1,
                )
                _s_n = _s_idx.count()
                t_refresh_scan = round(time.perf_counter() - _t0, 3)
                assert _s_n == _r_n, (_s_n, _r_n)
                _ncent_after = _r_cents.count()
                _t0 = time.perf_counter()
                _b_idx, _b_cents = _bld(
                    _grown.select("vec_id", "embedding"),
                    n_centroids=_ncent_after,
                )
                _b_n = _b_idx.count()
                t_rebuild = round(time.perf_counter() - _t0, 3)
            finally:
                _grown.unpersist()
                _idx.unpersist()
            assert _r_n == _b_n, (_r_n, _b_n)
            refresh_block[_label] = {
                "refresh_wall": t_refresh,
                "refresh_scan_wall": t_refresh_scan,
                "rebuild_wall": t_rebuild,
                "ratio": round(t_refresh / t_rebuild, 3),
                "scan_ratio": round(t_refresh_scan / t_rebuild, 3),
                "n": _r_n,
                "centroids_after": _ncent_after,
            }
        refresh_block["ratio_trend_sf3_vs_sf1"] = round(
            refresh_block["sf3"]["ratio"] / refresh_block["sf1"]["ratio"], 3
        )
        spark.catalog.clearCache()

    # --- end-of-run control drift (r11): the CONTROLS run early in
    # the headline basket, so a machine that degrades MID-RUN
    # (thermal/cgroup throttling — observed once in r11: the sf1
    # tail-half inflated ~7× while early queries stayed normal)
    # silently penalizes late-phase queries in a way the prev-round
    # normalization cannot see. Re-time the controls at the very end
    # at sf0.1: ≲0.8 means the run was steady (see the calibration
    # note below — late-run JVM warmth makes ~0.6-0.7 the healthy
    # baseline); ≳1.5 means tail-phase numbers (sf1/sf3/serving) are
    # suspect and the run deserves a re-measure before anyone reads
    # regressions.
    # Min-to-min under the same adaptive protocol (code-review r11):
    # a single end sample vs a converged min would carry the 15-45%
    # rep-spread bias and read 'drift' on a steady machine. SAME
    # reps/max_reps as the headline loop (ADVICE r11): the r11 build
    # used floor 2 / cap 4 here, giving the end re-measure less
    # convergence opportunity than the in-basket minimums it divides
    # by — an upward bias on a steady machine.
    # CALIBRATION (measured r12, quiet machine, load<1 at start): the
    # steady-state baseline of this scalar is ~0.6-0.7, NOT 1.0 — the
    # controls run EARLY in the basket, and after ~20 min of
    # continuous work the JVM (JIT, codegen cache, page cache) runs
    # the same plans ~30-40% faster (r11 read 0.69 on the run judged
    # healthy; r12 read 0.60 on an idle box). Read it as: ≲0.8 =
    # steady (late-run warmth), ~1 = the machine DEGRADED enough to
    # cancel that warmth, ≳1.5 = serious mid-run degradation and the
    # tail-phase numbers are suspect.
    drift_ratios = []
    for name in CONTROLS:
        runs = _timed_runs(
            lambda n=name: qs[n](spark, sf_dir).count(),
            spark.catalog.clearCache,
            reps,
            max_reps,
        )
        if timings.get(name):
            drift_ratios.append(min(runs) / timings[name])
    if drift_ratios:
        prod = 1.0
        for r in drift_ratios:
            prod *= r
        controls_drift_end = round(prod ** (1.0 / len(drift_ratios)), 2)
    else:
        # explicit marker, never silence (the ADVICE r9 lesson)
        controls_drift_end = "unavailable: no control timings"

    try:
        load_1m = round(os.getloadavg()[0], 2)
    except OSError:
        load_1m = -1.0
    # Truncation-safe emission, v2 (VERDICT r9 item 1 / ADVICE r9):
    # the driver captures a 2,000-char stdout TAIL; r9's summary line
    # grew past it (sf1 + sf3 + normalization maps folded in) and the
    # artifact's head was clipped — "parsed": null. Contract from r10
    # on: THREE JSON lines — verbose per-rep traces first, the full
    # detail blocks (sf1/sf3 query maps, control-normalized per-query
    # ratios) second, and a compact FINAL line carrying only the
    # headline scalars + per-query minimums, asserted ≤1,500 chars and
    # json.loads-round-trippable before printing.
    raw = {
        "metric": "bench_raw_runs",
        "all_runs": all_runs,
        "sf1_all_runs": sf1_block.pop("all_runs") if sf1_block else None,
        "sf3_all_runs": sf3_block.pop("all_runs") if sf3_block else None,
    }
    print(json.dumps(raw))

    # Control-normalized round-over-round deltas (VERDICT r8 item 6):
    # read THESE, not raw walls, before calling anything a regression.
    # The sf0.1 per-query minimums ride here too, so an overflow-
    # trimmed headline (finalize_headline_line) can truthfully point
    # readers at this line for them.
    detail: dict = {"metric": "bench_detail", "queries": timings}
    # r14 (protocol note (c)): the one-time UNTIMED index build
    # behind the ann_ivf_search headline row — visibility without
    # polluting the timed sum (n and centroid count size the build)
    detail["ann_ivf_build"] = {
        "wall": ivf_build_wall,
        "includes": "build+save+reload",  # r15: fixture prep excluded
        "n": _ann_n,
        "centroids": _ann_ncent,
    }
    prev, prev_name = _prev_bench(repo)
    controls_ratio = None
    if prev:
        norm = _control_normalized(timings, prev.get("queries"))
        if norm:
            norm["vs"] = prev_name
            controls_ratio = norm["controls_ratio"]
            detail["x_vs_prev_control_normalized"] = norm
        else:
            detail["x_vs_prev_control_normalized"] = (
                "unavailable: no parseable prior BENCH artifact queries"
            )
        if sf1_block is not None and isinstance(prev.get("sf1"), dict):
            norm1 = _control_normalized(
                sf1_block["queries"], prev["sf1"].get("queries")
            )
            if norm1:
                norm1["vs"] = prev_name
                sf1_block["x_vs_prev_control_normalized"] = norm1
    else:
        detail["x_vs_prev_control_normalized"] = (
            "unavailable: no parseable prior BENCH artifact"
        )
    # Round-over-round for the serving probe (VERDICT r11 item 6):
    # the prior compact line carries serving_ivf_x3 (and, from r12,
    # serving_ivf_x10) — record the prior next to this run's scalars
    # so the sub-linear-serving story is readable round to round
    # without digging up two artifacts.
    if serving_block is not None and prev:
        for prev_key, cur_val in (
            ("serving_ivf_x3", serving_block["x3_vs_sf1"]),
            ("serving_ivf_x10", serving_block.get(serving_block["x10_key"])),
        ):
            if isinstance(prev.get(prev_key), (int, float)):
                # [prior artifact, prior value, this run's value] —
                # the round-over-round pair readable in one place
                serving_block[f"{prev_key}_prev"] = [
                    prev_name, prev[prev_key], cur_val,
                ]
    if sf1_block is not None:
        detail["sf1"] = sf1_block
    if sf3_block is not None:
        detail["sf3"] = sf3_block
    if serving_block is not None:
        detail["serving_ivf"] = serving_block
    if refresh_block is not None:
        detail["refresh_vs_rebuild"] = refresh_block
    if controls_drift_end is not None:
        detail["controls_drift_end"] = controls_drift_end
    print(json.dumps(detail))

    out = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "reps": reps,
        "max_reps": max_reps,
        "protocol": "min_of_adaptive_reps",
        "load_1m_at_exit": load_1m,
    }
    # Compact scalar echoes of the detail line (the driver's artifact
    # keeps the round-over-round and scale verdicts even if only the
    # final line survives the tail capture):
    if controls_ratio is not None:
        out["controls_ratio_vs"] = [prev_name, controls_ratio]
    if sf1_block is not None:
        out["sf1_total"] = sf1_block["value"]
    if sf3_block is not None:
        out["sf3_total"] = sf3_block["value"]
        x3 = sf3_block.get("x3_vs_sf1") or {}
        if x3:
            worst = max(x3, key=x3.get)
            out["sf3_x3_worst"] = [worst, x3[worst]]
    if serving_block is not None:
        # prebuilt-index ivf_search sf3/sf1 wall ratio — the honest
        # sub-linear-serving scalar (~sqrt(3), vs 3 for a linear scan)
        out["serving_ivf_x3"] = serving_block["x3_vs_sf1"]
        # sf1/base ratio too (VERDICT r11 item 6: both serving
        # scalars readable round-over-round from the compact line;
        # ~sqrt(10)≈3.2 healthy, 10 = linear scan)
        x10 = serving_block.get(serving_block["x10_key"])
        if x10 is not None:
            out["serving_ivf_x10"] = x10
    if controls_drift_end is not None:
        # end-of-run control re-measure vs their in-basket minimums:
        # ≲0.8 steady (late-run JVM warmth baseline ~0.6-0.7); ≳1.5
        # the run degraded mid-flight and the late-phase
        # (sf1/sf3/serving) numbers are suspect
        out["controls_drift_end"] = controls_drift_end
    print(finalize_headline_line(out, total))
    spark.stop()


if __name__ == "__main__":
    main()
