"""Deduplication operators for large-scale text corpora.

Beyond-reference LLM-data-pipeline operators (BASELINE.json north
star). All hot paths are built-in Column expressions (JVM-side,
codegen); only SimHash uses an Arrow-batched pandas UDF (64-bit
popcount math is awkward as SQL expressions).

Scale design (100 TB corpus):
- exact_dedup groups on a fixed-width sha2 digest, not the full text:
  the shuffle moves 32-byte keys instead of multi-KB documents, and
  map-side partial aggregation collapses local duplicates before the
  exchange.
- minhash_lsh never materializes the O(n²) pair space: candidates
  come from an equi-join on (band_id, band_hash) buckets, so the
  shuffle is linear in corpus size; the quadratic blowup is confined
  to within-bucket pairs (tunable via bands/rows-per-band).
- all self-join pair generation dedups with id < id ordering to halve
  the pair space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def ensure_parallelism(
    df: DataFrame, min_parts: int | None = None, partition_by: str | None = None
) -> DataFrame:
    """Repartition compute-heavy inputs up to cluster parallelism.

    Small parquet files scan as 1-2 partitions; for scan-bound queries
    that's right, but CPU-bound per-row work (shingling, hashing,
    vector math) then runs on one core. A cheap shuffle of the raw
    rows buys full-cluster parallelism. (At 100 TB inputs are already
    thousands of partitions and this is a no-op.)

    ``partition_by``: when the downstream plan aggregates or joins on
    a key, hash-partition by it here so the later groupBy plans with
    NO second exchange (one shuffle does double duty). Round-robin
    otherwise.
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        if partition_by is not None:
            return df.repartition(target, F.col(partition_by))
        return df.repartition(target)
    return df


def normalize_text(col, lowercase: bool = True):
    """Collapse whitespace (+ optional lowercase) before hashing."""
    c = F.regexp_replace(F.trim(col), r"\s+", " ")
    return F.lower(c) if lowercase else c


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalize: bool = False
) -> DataFrame:
    """Exact duplicate groups via hash-groupBy.

    Returns one row per distinct text: canonical (min) id + dup count.
    Grouping key is sha2-256 of the text — fixed-width shuffle keys;
    collision probability is negligible (2^-128 birthday bound).
    """
    key = normalize_text(F.col(text_col)) if normalize else F.col(text_col)
    return (
        df.select(F.sha2(key, 256).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep only the canonical (min-id) row of each duplicate group.

    The keep-set has one row per DISTINCT document — corpus-sized, so
    it must NOT be broadcast (a broadcast would OOM the driver at the
    100 TB design point). A shuffled left-semi join on the id is the
    right plan: both sides exchange on a fixed-width key and the
    map-side partial min has already collapsed duplicates.
    """
    w_key = F.sha2(F.col(text_col), 256)
    keep = (
        df.select(w_key.alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, id_col, "left_semi")


# span_dedup packed-winner layout: span_idx occupies the low bits of
# the packed BIGINT winner key (2^21 ≈ 2M spans/doc — a 20M-word
# document at the default 10-word span), the id the remaining high
# bits (ids up to 2^41). Order-isomorphic to the (id, idx) struct for
# in-range values; out-of-range fails loud in span_dedup.
_SPAN_IDX_BITS = 21


# --- MinHash + LSH ---------------------------------------------------


def _tokens(text_col, pattern: str = r"\s+"):
    return F.split(normalize_text(F.col(text_col)), pattern)


def shingles_raw(text_col: str, n: int = 3):
    """Word n-gram shingles as an array column, duplicates kept.

    transform over an index sequence + slice — no explode until the
    consumer needs rows. Prefer this wherever the consumer is
    duplicate-insensitive: array_distinct doubles the shingle-stage
    cost (measured at sf0.1).
    """
    toks = _tokens(text_col)
    idx = F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(toks) - F.lit(n - 1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def shingles(text_col: str, n: int = 3):
    """Word n-gram shingles as an array column (distinct) — for
    consumers that use array sizes as set cardinalities."""
    return F.array_distinct(shingles_raw(text_col, n))


def shingle_hash_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_size: int = 3
) -> DataFrame:
    """(id, h): one row per shingle OCCURRENCE, h = xxhash64(shingle).

    Deliberately NOT deduplicated: every downstream consumer is
    duplicate-insensitive (min-aggregates for signatures; the verify
    stage dedupes after restricting to candidate docs), and skipping
    array_distinct on the shingle arrays was measured at ~2x on the
    whole-pipeline wall at sf0.1. Long rows, not strings — the persisted
    frame carries 16 bytes/shingle through every later stage.
    """
    # Codegen-only formulation: explode the 0-based shingle START
    # POSITIONS and index the token array per output row, instead of
    # materializing a shingle array via transform/slice and exploding
    # it. Higher-order functions are interpreted per element and the
    # exploded HOF array costs ~19x this plan at sf0.1 (measured:
    # 6.4 s vs 0.34 s for the hash frame). F.get (not element_at) so
    # short docs' out-of-range tails are NULL — skipped by concat_ws —
    # under ANSI mode too (the driver runs a plain ANSI-on session).
    base = ensure_parallelism(
        df.select(F.col(id_col), F.col(text_col)), partition_by=id_col
    )
    toks = F.split(normalize_text(F.col(text_col)), r"\s+")
    pos = base.select(F.col(id_col), toks.alias("toks")).select(
        F.col(id_col),
        "toks",
        F.explode(
            F.sequence(
                F.lit(0), F.greatest(F.lit(0), F.size("toks") - F.lit(shingle_size))
            )
        ).alias("i"),
    )
    parts = [F.get("toks", F.col("i") + F.lit(j)) for j in range(shingle_size)]
    return pos.select(
        F.col(id_col), F.xxhash64(F.concat_ws(" ", *parts)).alias("h")
    )


def minhash_signatures(
    hash_df: DataFrame, id_col: str = "doc_id", num_hashes: int = 32
) -> DataFrame:
    """MinHash signatures as columns mh_0..mh_{k-1} from a
    shingle-hash frame (id, h).

    Spark-first formulation: one hash-aggregate with ``num_hashes``
    min(xxhash64(h, seed)) functions. Unlike array_min(transform(...))
    higher-order expressions (which are INTERPRETED per element),
    hash-aggregates run in whole-stage codegen, and map-side partial
    mins collapse each doc's shingles before any shuffle (measured
    ~10x over the HOF form at sf0.1). The shingle string is hashed
    ONCE upstream; the k-hash family is derived from the 8-byte value
    — ~2x cheaper than re-hashing the string per seed at equal
    quality.
    """
    aggs = [F.min(F.xxhash64("h", F.lit(i))).alias(f"mh_{i}") for i in range(num_hashes)]
    return hash_df.groupBy(id_col).agg(*aggs)


def banded_buckets(
    sig: DataFrame, id_col: str = "doc_id", num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """(id, band_id, band_hash): one bucket row per band."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rows_per_band = num_hashes // bands
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")


def _bucket_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    # persist: the self-join reads this subtree twice
    banded = banded.persist()
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def shingle_set_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_size: int = 3
) -> DataFrame:
    """(id, hs: array<long>): the distinct shingle-hash SET per doc.

    This is the one corpus-wide shuffle of the minhash pipeline: after
    it, signature aggregation reuses the hash(id) output partitioning
    (explode is narrow, so the re-groupBy on id plans with NO new
    exchange), and verification joins read the same persisted frame.
    Long arrays, not strings — 8 bytes/shingle in cache.
    """
    return shingle_hash_frame(df, text_col, id_col, shingle_size).groupBy(id_col).agg(
        F.collect_set("h").alias("hs")
    )


def hash_jaccard_pairs(
    sets_df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard over hashed shingle sets for candidate pairs.

    Verification never touches shingle strings: two equi-joins attach
    each side's hash set (long arrays) and array_intersect runs
    JVM-side. 64-bit collisions within one doc pair are negligible.
    """
    a = sets_df.withColumnsRenamed({id_col: "id_a", "hs": "hs_a"})
    b = sets_df.withColumnsRenamed({id_col: "id_b", "hs": "hs_b"})
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("hs_a") + F.size("hs_b") - F.col("inter")),
        )
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 24,
    bands: int = 6,
    shingle_size: int = 3,
) -> DataFrame:
    """Near-dup pairs above a Jaccard threshold: LSH candidates →
    exact verification. Linear shuffle; quadratic work only within
    LSH buckets.

    Plan shape (ONE corpus-wide shuffle + the band self-join):
      shingle-hash occurrence rows                 [hash(id) exchange, persisted]
      → k min-aggs + band hashes, one codegen agg  [NO new exchange]
      → self-join on (band, hash)                  [band shuffle, candidate pairs]
      → broadcast candidate ids onto occurrences   [narrow — zero shuffle]
      → collect_set over candidate docs only       [tiny]
      → exact hash-set Jaccard verify joins.
    No corpus-wide set materialization: collect_set (an
    ObjectHashAggregate, no codegen) runs only over docs named in some
    candidate pair.

    Persist lifetime is caller-managed: the occurrence frame and the
    candidate pairs stay cached until the session ends or the caller
    clears them — callers composing many dedup runs in one session
    should `spark.catalog.clearCache()` between corpora.

    Defaults 24 hashes / 6 bands of 4 rows: banding probability
    1-(1-s^4)^6 — candidate recall ≥ 0.96 at true Jaccard 0.8, ≥ 0.99 at 0.85
    (the verification stage is exact, so recall of the BAND stage is
    the only approximation; tests/test_llm_ops.py gates band recall
    ≥ 0.9 against the exact n-gram Jaccard truth on the test corpus).
    Raise to 32/8 (recall ≥ 0.985 at s=0.8) when hunting borderline dups.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rows_per_band = num_hashes // bands
    # One corpus-wide shuffle total: the occurrence frame is hash(id)-
    # partitioned by ensure_parallelism, so the signature aggregation
    # and the candidate-subset set-build both reuse that partitioning.
    hf = shingle_hash_frame(df, text_col, id_col, shingle_size).persist()
    # Signatures in ONE pure-codegen hash aggregate (min over shingle
    # OCCURRENCES — min is duplicate-insensitive, so no distinct/set
    # materialization is needed corpus-wide), with band hashes emitted
    # in the same stage's output projection (no mh_i materialization
    # beyond the agg buffer).
    sig = hf.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64("h", F.lit(i))).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    )
    banded = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            *[
                                F.col(f"mh_{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")
    cands = _bucket_pairs(banded, id_col).persist()
    # Exact-Jaccard verification only needs shingle SETS for docs that
    # appear in some candidate pair — a tiny fraction of the corpus.
    # Broadcast those ids back onto the persisted occurrence frame
    # (narrow semi-join, zero shuffle) and collect_set over the subset,
    # instead of paying a corpus-wide ObjectHashAggregate.
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # persist (optimization r17): hash_jaccard_pairs joins sets on
    # BOTH pair sides, and without a cache boundary the whole subtree
    # — a full read of the persisted occurrence frame, the semi-join
    # AND the collect_set ObjectHashAggregate — is planned (and run)
    # twice, once per side. The frame is tiny (candidate docs only),
    # so caching it costs nothing and halves the verify stage's
    # corpus-cache traffic; lifetime is caller-managed like hf/cands.
    sets = (
        hf.join(F.broadcast(cand_ids), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("h").alias("hs"))
        .persist()
    )
    verified = hash_jaccard_pairs(sets, cands, id_col)
    return verified.filter(F.col("jaccard") >= threshold)


# --- n-gram Jaccard (exact, bucket-free — small/medium corpora) ------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs Jaccard via inverted index on shingles.

    explode(shingles) → self-join on shingle → count shared →
    |A∩B| / (|A|+|B|-|A∩B|). Shuffle is linear in total shingle
    count; pair space limited to pairs sharing ≥1 shingle. For 100 TB
    use minhash_dedup instead — this is the exact oracle-friendly
    variant.
    """
    sh = ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), shingles(text_col, shingle_size).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    # persist: the inverted index feeds both sides of the pair join
    sh = sh.persist()
    inv = sh.select(id_col, "n_sh", F.explode("sh").alias("shingle"))
    a = inv.alias("a")
    b = inv.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.withColumn(
            "jaccard", F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- SimHash ---------------------------------------------------------


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash fingerprints via an Arrow-batched pandas UDF.

    Bit-vote accumulation over token hashes is genuinely awkward as
    SQL expressions (64 nested aggregates per row); numpy does it as
    one matmul per batch. Token hashing uses Python's stable md5 so
    results are deterministic across JVM/Python boundaries.
    """
    def _simhash_batch(texts):
        import hashlib

        import numpy as np
        import pandas as pd

        n = len(texts)
        out = np.zeros(n, dtype=np.int64)
        # flatten the batch to one token stream with per-doc counts
        doc_tokens = [([] if t is None else t.lower().split()) for t in texts]
        counts = np.fromiter((len(tk) for tk in doc_tokens), dtype=np.int64, count=n)
        total = int(counts.sum())
        if total == 0:
            return pd.Series(out)
        flat = [tok for tk in doc_tokens for tok in tk]
        # md5 each UNIQUE token once (Python loop over uniques only);
        # inverse indices restore per-doc multiplicity
        uniq, inv = np.unique(np.asarray(flat, dtype=object), return_inverse=True)
        uh = np.fromiter(
            (
                int.from_bytes(hashlib.md5(u.encode()).digest()[:8], "big")
                for u in uniq
            ),
            dtype=np.uint64,
            count=len(uniq),
        )
        # bit b of h is (h >> b) & 1 — LSB-first, same as the scalar
        # reference formulation; ±1 vote matrix in one vectorized shot
        shifts = np.arange(bits, dtype=np.uint64)
        uniq_bits = ((uh[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
        tok_votes = 2 * uniq_bits[inv] - 1  # (total_tokens, bits)
        # segment-sum votes per doc: consecutive non-empty docs'
        # start offsets delimit exactly one doc's token rows each
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        nz = counts > 0
        votes = np.zeros((n, bits), dtype=np.int64)
        votes[nz] = np.add.reduceat(tok_votes, starts[nz], axis=0)
        fp = ((votes > 0).astype(np.uint64) << shifts[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        # wrap to signed 64-bit
        out = fp.view(np.int64)
        return pd.Series(out)

    _simhash = F.pandas_udf(_simhash_batch, T.LongType())
    par = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    return par.select(F.col(id_col), F.col(text_col), _simhash(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(
    sim_df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by Hamming distance over SimHash fingerprints.

    Banding on 16-bit chunks (pigeonhole: distance ≤3 ⇒ at least one
    of 4 chunks equal) keeps the join linear, like MinHash-LSH.
    """
    chunks = sim_df.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftrightunsigned(F.col("simhash"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select(id_col, "simhash", "ch.chunk_id", "ch.chunk_val")
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", hamming).filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


# --- duplicate-group resolution (connected components) ---------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    iteration_counter: list | None = None,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate GROUPS: connected
    components via min-label propagation WITH pointer jumping — the
    shortcutting idea of the map-reduce large-star/small-star CC
    family (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond").

    Returns (node, component) for every node appearing in a pair,
    where component = the minimum id in the node's component (docs in
    no pair are their own canonical — callers coalesce).

    Each round runs TWO linear steps:
      1. edge propagation — every node takes the min label over its
         neighbors (one equi-join + hash-agg on node ids);
      2. pointer jumping — every node then takes its LABEL's label
         (one self-join of the label frame), shortcutting chains so
         label information travels ~2× the distance per round.
    Convergence is therefore O(log diameter), not O(diameter): a
    64-link duplicate chain closes in ≤8 rounds instead of 64 (gated
    in tests/test_llm_ops.py via ``iteration_counter``, a 1-element
    list the function appends the round count to). Banded-LSH dup
    clusters are dense (diameter 2-4) and close in 2-3 rounds.

    Raises RuntimeError if ``max_iters`` rounds don't converge —
    with doubling that bounds component diameter ~2^max_iters, so
    hitting it means something is structurally wrong and silent
    partial labels would be a correctness bug downstream (train/eval
    leakage through a half-merged group).

    Convergence is detected with a driver-side sum-of-label-HASHES
    check: xxhash64(label) works for any label type (string doc ids
    included — a plain SUM(label) would be NULL there and stall the
    loop after one round), the sum is one cheap agg per round, and a
    changed label set changes the sum except with ~2^-64 collision
    probability. Each round localCheckpoints the label frame:
    iterative self-referencing plans otherwise DOUBLE the logical
    tree per round and OOM the driver on deep chains.
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    edges = fwd.union(rev).distinct().persist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )

    def _label_digest(frame: DataFrame):
        # decimal(38,0) sum: 64-bit hash values summed as longs overflow
        # under ANSI mode on all but tiny inputs
        return frame.agg(
            F.sum(F.xxhash64("label").cast("decimal(38,0)"))
        ).first()[0]

    prev_sum = _label_digest(labels)
    converged = False
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # step 1: edge propagation (min over neighbor labels)
        prop = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(prop, labels["node"] == prop["dst"], "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
        )
        # step 2: pointer jumping (label := label's label) — labels are
        # always node ids, so the lookup frame is the label frame itself
        lookup = stepped.select(
            F.col("node").alias("label"), F.col("label").alias("hop2")
        )
        labels = (
            stepped.join(lookup, "label", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("hop2", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        new_sum = _label_digest(labels)
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    edges.unpersist()
    if iteration_counter is not None:
        iteration_counter.append(rounds)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"(bounds component diameter ~2^{max_iters}); refusing to return "
            "partial labels"
        )
    return labels.select("node", F.col("label").alias("component"))


def dedup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    **minhash_kwargs,
) -> DataFrame:
    """End-to-end near-dup GROUPING: minhash pairs → connected
    components → (doc_id, component) for every doc, with unpaired
    docs as their own component. Keep one doc per component to dedup."""
    pairs = minhash_dedup(df, text_col, id_col, threshold, **minhash_kwargs)
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col))
        .join(comp, df[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    order_col: str,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Quality-aware canonical selection: resolve near-dup PAIRS into
    components and keep, per component, the single BEST document
    (highest ``order_col``, ``id_col`` ascending on ties) — the
    production dedup policy (keep the longest / highest-quality copy)
    where dedup_groups' min-id canonical keeps an arbitrary one.
    Unpaired documents keep themselves.

    Returns (id, group_key, order) — exactly one row per component.

    Scale design (100 TB): pointer-doubled components (O(log
    diameter) linear rounds), then one row_number window PARTITIONED
    by component — dup groups are small by construction (band/bucket
    candidates), so no data-proportional partition.

    Fails loud on NULL/NaN ``order_col`` (same contract as
    select_within_token_budget, ADVICE r15): a NULL score would sort
    last under DESC and silently lose its component — or win it when
    every member is NULL — instead of surfacing the unscored row."""
    guard = F.col(order_col).isNull()
    odt = df.schema[order_col].dataType
    if isinstance(odt, (T.DoubleType, T.FloatType)):
        guard = guard | F.isnan(F.col(order_col))
    bad = df.select(F.col(id_col), F.col(order_col)).filter(guard)
    bad_row = bad.limit(1).collect()
    if bad_row:
        raise ValueError(
            f"dedup_keep_best: row {bad_row[0][id_col]!r} has NULL/NaN "
            f"{order_col!r} — score every document before canonical "
            "selection"
        )
    comp = connected_components(pairs, id_a, id_b, max_iters)
    keyed = (
        df.select(F.col(id_col), F.col(order_col))
        .join(comp, df[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("group_key"),
            F.col(order_col),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("group_key").orderBy(
        F.col(order_col).desc(), F.col(id_col).asc()
    )
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def leakage_safe_splits(
    df: DataFrame,
    pairs: DataFrame,
    fractions: dict[str, float] | None = None,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    seed: int = 42,
    max_iters: int = 20,
) -> DataFrame:
    """Leakage-safe train/val/test assignment: documents connected by
    near-duplicate PAIRS (any dedup family's output — minhash bands,
    simhash, embedding-cosine, exact) are resolved into components,
    and the WHOLE component lands in one split — the step that stops
    a near-copy of a validation document from sitting in train (the
    contamination a per-doc random split cannot prevent and the
    reason dedup pipelines split on the duplicate GROUP, not the
    document).

    Split choice is content-addressed: the component root's md5
    bucket (seeded) against cumulative ``fractions`` cuts in dict
    insertion order — the same id lands in the same split on every
    engine, every run, every partitioning (deterministic_sample's
    property, lifted from documents to duplicate groups). Fractions
    must be positive and sum to 1 (cuts are rounded to basis points,
    so the realized proportions are exact at 1/10000 granularity).

    Returns (id, group_key, split) for EVERY input document —
    unpaired docs are their own group.

    Scale design (100 TB): components via pointer-doubled min-label
    propagation (O(log diameter) linear rounds, fail-loud on
    non-convergence); the split decision is a narrow md5 expression —
    no extra shuffle past the component join."""
    if fractions is None:
        fractions = {"train": 0.9, "val": 0.05, "test": 0.05}
    if not fractions:
        raise ValueError("fractions must name at least one split")
    vals = list(fractions.values())
    if any(v <= 0 for v in vals):
        raise ValueError(f"fractions must be positive, got {fractions}")
    if abs(sum(vals) - 1.0) > 1e-9:
        raise ValueError(
            f"fractions must sum to 1, got {sum(vals)} from {fractions}"
        )
    comp = connected_components(pairs, id_a, id_b, max_iters)
    keyed = (
        df.select(F.col(id_col))
        .join(comp, df[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("group_key"),
        )
    )
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "§", F.lit(str(seed)), F.col("group_key").cast("string")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint") % 10000
    names = list(fractions)
    cum = 0.0
    arms: list[tuple[int, str]] = []
    prev_cut = 0
    for name, frac in fractions.items():
        cum += frac
        cut = int(round(cum * 10000))
        if cut <= prev_cut:
            # a fraction below basis-point granularity would silently
            # produce a split no document can ever land in — the
            # fail-loud contract the other guards keep
            raise ValueError(
                f"fraction for split {name!r} ({frac}) rounds below the "
                "1/10000 bucket granularity — its arm would cover zero "
                "buckets; merge it into a neighbor or coarsen the plan"
            )
        prev_cut = cut
        arms.append((cut, name))
    case = None
    for cut, name in arms:
        cond = bucket < F.lit(cut)
        case = F.when(cond, F.lit(name)) if case is None else case.when(
            cond, F.lit(name)
        )
    # the final cut is 10000, so the fallback arm is unreachable; it
    # exists to keep the column non-nullable
    return keyed.select(
        F.col(id_col),
        "group_key",
        case.otherwise(F.lit(names[-1])).alias("split"),
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 10,
) -> DataFrame:
    """Span-level exact substring dedup (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    recipe, at fixed word-span granularity): chop every document
    into consecutive ``span_words``-word spans, keep only the FIRST
    corpus-wide occurrence of each distinct span (ordered by
    (id, position)), and reassemble the surviving spans per document.
    Unlike document-level dedup this removes boilerplate repeated
    INSIDE otherwise-distinct documents (headers, licence blocks,
    navigation chrome).

    Returns (id_col, spans_total, spans_kept, deduped_text) for every
    input document; fully-duplicate documents surface with
    spans_kept=0 and deduped_text='' so callers can drop or audit.

    Scale design (100 TB):
    - Span chopping is NARROW per-row work (split + slice inside one
      projection) — no shuffle, no Python.
    - First-occurrence selection is ONE linear shuffle on span_text
      (min(struct(id, pos)) hash-agg — map-side partials collapse
      local repeats), never an O(n²) pair space.
    - The winners frame (1 row per distinct span) joins back on the
      SAME span_text key, then one shuffle on id reassembles. Three
      linear shuffles total; quadratic work: none.
    - For giant span cardinalities, swap span_text for xxhash64(span)
      in the winner agg to move 8-byte keys (collision-safe to
      ~2^-64): kept exact here so the result is oracle-comparable.
    """
    # split once into a words column (the chunking expr would otherwise
    # re-split per reference) and repartition so the CPU-heavy
    # interpreted-HOF chunking runs cluster-wide rather than on the
    # 1-2 partitions a small file scan produces. Round-robin, NOT
    # hash-by-id: the next exchange hashes on span_text (the winner
    # agg), so an id hash here buys no exchange reuse and would skew
    # on clustered ids — round-robin balances the chop work exactly.
    # Optimization r17 (guide §2.3): split ABOVE the exchange — the
    # r16 plan computed split() below it, serializing the tokenize
    # onto the scan's 1-2 partitions and shuffling token ARRAYS
    # (strictly more bytes than the raw text).
    words = ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.split(F.col(text_col), " ", -1).alias("__words")
    )
    spans = words.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(__words)"
                f" / {span_words}.0) as int) - 1),"
                f" i -> array_join(slice(__words,"
                f" i * {span_words} + 1, {span_words}), ' '))"
            )
        ).alias("span_idx", "span_text"),
    )
    # Winner selection (optimization r16, guide §2.3/§5): min over a
    # STRUCT is a DeclarativeAggregate with an immutable buffer, which
    # HashAggregateExec cannot hold — Spark silently planned this as
    # SortAggregate, i.e. a full sort of the corpus-sized span frame
    # on both sides of the exchange. Packing the (id, span_idx) winner
    # into ONE BIGINT (id in the high bits, idx in the low
    # _SPAN_IDX_BITS) keeps the identical lexicographic order for
    # non-negative in-range values, and min(BIGINT) hash-aggregates
    # with map-side partials (plan: SortAggregate → HashAggregate,
    # sorts gone). Out-of-range rows fail loud (the dedup_keep_best /
    # budget-selection guard idiom) instead of silently mis-ranking;
    # non-integral id types keep the struct path unchanged.
    id_type = df.schema[id_col].dataType
    integral = isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    )
    if integral:
        idx_bits = _SPAN_IDX_BITS
        max_id = 1 << (62 - idx_bits)  # packed stays within int64
        packable = (
            (F.col("span_idx") >= 0)
            & (F.col("span_idx") < (1 << idx_bits))
            & (F.col(id_col) >= 0)
            & (F.col(id_col) < max_id)
        )
        packed = F.when(
            packable,
            F.col(id_col).cast("long") * F.lit(1 << idx_bits).cast("long")
            + F.col("span_idx").cast("long"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "span_dedup: (id, span_idx) outside the packable "
                        f"range (need 0 <= id < {1 << (62 - idx_bits)} and "
                        f"0 <= span_idx < {1 << idx_bits}, got id="
                    ),
                    F.col(id_col).cast("string"),
                    F.lit(", span_idx="),
                    F.col("span_idx").cast("string"),
                    F.lit(") — NULL/negative ids are a contract violation"),
                )
            ).cast("long")
        )
        firsts = (
            spans.groupBy("span_text")
            .agg(F.min(packed).alias("__w"))
            .select(
                "span_text",
                F.shiftright(F.col("__w"), idx_bits)
                .cast(id_type)
                .alias("__first_id"),
                F.col("__w")
                .bitwiseAND(F.lit((1 << idx_bits) - 1))
                .cast("int")
                .alias("__first_idx"),
            )
        )
    else:
        firsts = (
            spans.groupBy("span_text")
            .agg(F.min(F.struct(id_col, "span_idx")).alias("w"))
            .select(
                "span_text",
                F.col(f"w.{id_col}").alias("__first_id"),
                F.col("w.span_idx").alias("__first_idx"),
            )
        )
    flagged = spans.join(firsts, "span_text").withColumn(
        "kept",
        (F.col(id_col) == F.col("__first_id"))
        & (F.col("span_idx") == F.col("__first_idx")),
    )
    kept_struct = F.when(F.col("kept"), F.struct("span_idx", "span_text"))
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("spans_total"),
        F.sum(F.col("kept").cast("bigint")).cast("bigint").alias("spans_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x["span_text"],
            ),
        ).alias("deduped_text"),
    )


# --- Incremental dedup against a persisted MinHash index -------------
#
# The 100 TB pipeline is INCREMENTAL: new crawl batches arrive daily
# and must be deduplicated against everything already ingested without
# re-shingling the whole corpus. The index persists the two artifacts
# the batch pipeline computes anyway:
#   bands/  (id, band_id, band_hash)  partitioned by band_id — what
#           candidate generation joins against (16 B/row × bands rows
#           per doc, tiny relative to text);
#   sets/   (id, hs: array<long>)     distinct shingle hashes — what
#           exact verification needs (~16 B/shingle, linear in corpus;
#           skip with verify=False to trade precision for storage).
# A meta row pins (num_hashes, bands, shingle_size) so an incompatible
# query batch fails loudly instead of silently finding nothing.


def save_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 24,
    bands: int = 6,
    shingle_size: int = 3,
) -> None:
    """Build and persist the MinHash index of a corpus (one linear
    pass — the same shingle→signature→band plan as minhash_dedup)."""
    hf = shingle_hash_frame(df, text_col, id_col, shingle_size).persist()
    sig = minhash_signatures(hf, id_col, num_hashes)
    banded = banded_buckets(sig, id_col, num_hashes, bands)
    # sets/ before bands/ (same crash-consistency order as
    # minhash_index_append); meta/ last so a partial save won't load
    (
        hf.groupBy(id_col)
        .agg(F.collect_set("h").alias("hs"))
        .write.mode("overwrite")
        .parquet(f"{path}/sets")
    )
    banded.write.partitionBy("band_id").mode("overwrite").parquet(f"{path}/bands")
    hf.unpersist()
    df.sparkSession.createDataFrame(
        [(num_hashes, bands, shingle_size, id_col)],
        "num_hashes int, bands int, shingle_size int, id_col string",
    ).write.mode("overwrite").json(f"{path}/meta")


def _load_minhash_meta(spark, path: str) -> dict:
    row = spark.read.json(f"{path}/meta").first()
    return {
        "num_hashes": int(row["num_hashes"]),
        "bands": int(row["bands"]),
        "shingle_size": int(row["shingle_size"]),
        "id_col": row["id_col"],
    }


def minhash_index_append(new_df: DataFrame, path: str, text_col: str = "text") -> None:
    """Grow a saved index with a new batch (append-only writes; call
    AFTER dedup_against_index so the batch was cleaned first).

    Write ORDER is a crash-consistency invariant (ADVICE r4): sets/
    is appended BEFORE bands/, so a crash between the two leaves
    sets ⊇ bands — every band row's id has its shingle set, and a
    partial append merely UNDER-reports candidates (the new ids have
    no band rows yet). The reverse order would leave band rows whose
    verification sets are missing, which dedup_against_index treats
    as index corruption and fails loudly on."""
    spark = new_df.sparkSession
    meta = _load_minhash_meta(spark, path)
    hf = shingle_hash_frame(new_df, text_col, meta["id_col"], meta["shingle_size"]).persist()
    sig = minhash_signatures(hf, meta["id_col"], meta["num_hashes"])
    hf.groupBy(meta["id_col"]).agg(F.collect_set("h").alias("hs")).write.mode(
        "append"
    ).parquet(f"{path}/sets")
    banded_buckets(sig, meta["id_col"], meta["num_hashes"], meta["bands"]).write.partitionBy(
        "band_id"
    ).mode("append").parquet(f"{path}/bands")
    hf.unpersist()


def dedup_against_index(
    new_df: DataFrame,
    path: str,
    threshold: float = 0.8,
    text_col: str = "text",
    verify: bool = True,
    materialize: bool = True,
) -> DataFrame:
    """Near-dup pairs (new_id, index_id, jaccard) between a NEW batch
    and the persisted corpus index — without touching corpus text.

    Plan: shingle+sign the new batch only (linear in batch), equi-join
    its band rows against the saved band table (shuffle linear in
    batch + matched index partitions), then exact-verify candidates
    against the saved shingle sets (semi-joined to candidate ids only
    — never a full sets scan materialized into memory). With
    verify=False returns band candidates with jaccard=NULL (the
    storage-light mode when sets/ was not kept).

    Fail-loud guarantees (ADVICE r4):
    - a candidate index_id with bands/ rows but no sets/ row is index
      CORRUPTION (e.g. an append that crashed between writes under
      the old bands-first order) — verification raises at execution
      instead of silently dropping the pair through an inner join;
    - with materialize=True (default) the result is materialized
      (localCheckpoint) and the internal hf/cands caches released
      before returning, so repeated daily batches don't accumulate
      orphaned cached blocks; materialize=False returns the lazy
      un-cached plan (for plan inspection or composition into a
      larger single-action job — the shingle frame recomputes per
      consumer there)."""
    spark = new_df.sparkSession
    meta = _load_minhash_meta(spark, path)
    id_col = meta["id_col"]
    _cache = (lambda f: f.persist()) if materialize else (lambda f: f)
    hf = _cache(shingle_hash_frame(new_df, text_col, id_col, meta["shingle_size"]))
    sig = minhash_signatures(hf, id_col, meta["num_hashes"])
    new_banded = banded_buckets(sig, id_col, meta["num_hashes"], meta["bands"])
    idx_banded = spark.read.parquet(f"{path}/bands")
    cands = (
        new_banded.alias("n")
        .join(
            idx_banded.alias("x"),
            (F.col("n.band_id") == F.col("x.band_id"))
            & (F.col("n.band_hash") == F.col("x.band_hash")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"x.{id_col}").alias("index_id"),
        )
        .distinct()
    )
    cands = _cache(cands)

    def _finish(frame: DataFrame) -> DataFrame:
        if not materialize:
            return frame
        out = frame.localCheckpoint(eager=True)
        cands.unpersist()
        hf.unpersist()
        return out

    if not verify:
        return _finish(cands.withColumn("jaccard", F.lit(None).cast("double")))
    new_ids = cands.select(F.col("new_id").alias(id_col)).distinct()
    new_sets = (
        hf.join(F.broadcast(new_ids), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("h").alias("hs"))
        .withColumnsRenamed({id_col: "new_id", "hs": "hs_n"})
    )
    idx_ids = cands.select(F.col("index_id").alias(id_col)).distinct()
    idx_sets = (
        spark.read.parquet(f"{path}/sets")
        .join(F.broadcast(idx_ids), id_col, "left_semi")
        .withColumnsRenamed({id_col: "index_id", "hs": "hs_x"})
    )
    inter = F.size(F.array_intersect("hs_n", "hs_x"))
    # LEFT join + runtime guard: a missing sets/ row for a banded id is
    # corruption, not a miss — raise rather than under-report pairs
    guarded_hs_x = F.when(
        F.col("hs_x").isNull(),
        F.raise_error(
            F.concat(
                F.lit("minhash index inconsistent at "),
                F.lit(path),
                F.lit(": index_id "),
                F.col("index_id").cast("string"),
                F.lit(" has bands/ rows but no sets/ row (partial append?)"),
            )
        ),
    ).otherwise(F.col("hs_x"))
    return _finish(
        cands.join(new_sets, "new_id")
        .join(idx_sets, "index_id", "left")
        .withColumn("hs_x", guarded_hs_x)
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("hs_n") + F.size("hs_x") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "index_id", "jaccard")
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    eval_frac: float = 0.1,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Train/eval split that cannot leak near-duplicates across the
    boundary: documents are split by their DUPLICATE GROUP, not
    individually, so a doc and its near-copy always land on the same
    side (the failure mode a naive per-doc split has with web data —
    eval examples whose near-copies sit in train).

    ``pairs`` is any near-dup pair frame (id_a, id_b) — minhash_dedup,
    ngram_jaccard_pairs, embedding near-dup. Docs in no pair form
    singleton groups. The split key is md5(seed || group_label), so
    membership is deterministic across engines/runs and independent
    of id assignment order (same property as deterministic_sample).

    Plan: connected_components over the pair graph (iterative
    min-label, linear rounds), LEFT join group labels onto the corpus
    (absent → own id), then a narrow hash-bucket filter. Returns the
    input plus (split_group, split) where split ∈ {'train', 'eval'}.
    """
    comp = connected_components(pairs).withColumnsRenamed(
        {"node": id_col, "component": "split_group"}
    )
    labeled = df.join(comp, id_col, "left").withColumn(
        "split_group", F.coalesce(F.col("split_group"), F.col(id_col))
    )
    bucket = F.conv(
        F.substring(
            F.md5(F.concat_ws("§", F.lit(str(seed)), F.col("split_group").cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("bigint") % 10000
    cut = int(eval_frac * 10000)
    return labeled.withColumn(
        "split", F.when(bucket < cut, F.lit("eval")).otherwise(F.lit("train"))
    )
