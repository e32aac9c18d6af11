"""Band-join / as-of operator tests (J1-J3, W1)."""

from __future__ import annotations

import pytest

from healthcare_data_lakehouse_using_gcp_spark.operators import joins


def _frames(spark):
    left = spark.createDataFrame(
        [
            ("P1", "2024-06-10", 1),
            ("P2", "2024-06-10", 2),  # no right match in band
        ],
        "key string, l_date string, l_id int",
    )
    right = spark.createDataFrame(
        [
            ("P1", "2024-06-08", "R1"),  # 2 days
            ("P1", "2024-06-05", "R2"),  # 5 days
            ("P1", "2024-05-01", "R3"),  # outside band
            ("P2", "2024-07-30", "R4"),  # outside band
        ],
        "key string, r_date string, r_id string",
    )
    return left, right


def test_band_join_left(spark):
    left, right = _frames(spark)
    out = joins.band_join(left, right, ["key"], "l_date", "r_date", band_days=7).collect()
    # P1 matches R1+R2; P2 keeps a null row (left join)
    assert len(out) == 3
    p2 = [r for r in out if r["key"] == "P2"]
    assert len(p2) == 1 and p2[0]["r_id"] is None
    assert {r["r_id"] for r in out if r["key"] == "P1"} == {"R1", "R2"}


def test_asof_join_nearest(spark):
    left, right = _frames(spark)
    out = joins.asof_join(
        left, right, ["key"], "l_date", "r_date", band_days=7, tie_breakers=["r_id"]
    ).collect()
    assert len(out) == 2  # one row per left row
    p1 = next(r for r in out if r["key"] == "P1")
    assert p1["r_id"] == "R1"  # 2 days beats 5 days


def test_proximity_rank_null_last(spark):
    left, right = _frames(spark)
    joined = joins.band_join(left, right, ["key"], "l_date", "r_date", band_days=7)
    ranked = joins.proximity_rank(joined, ["key", "l_date"], "l_date", "r_date", ["r_id"])
    rows = {(r["key"], r["r_id"]): r["proximity_rank"] for r in ranked.collect()}
    assert rows[("P1", "R1")] == 1
    assert rows[("P1", "R2")] == 2
    assert rows[("P2", None)] == 1  # null-match row still ranked


def test_asof_min_by_matches_rank1(spark):
    left, right = _frames(spark)
    joined = joins.band_join(left, right, ["key"], "l_date", "r_date", band_days=7)
    via_rank = {
        r["key"]: r["r_id"]
        for r in joins.asof_select(joined, ["key", "l_date"], "l_date", "r_date", ["r_id"]).collect()
    }
    via_minby = {
        r["key"]: r["r_id"]
        for r in joins.asof_select_min_by(
            joined, ["key", "l_date"], "l_date", "r_date", ["r_id"]
        ).collect()
    }
    assert via_rank == via_minby


def test_asof_min_by_packed_equals_struct_and_fails_loud(spark):
    """Optimization r17: the packed min_by guard moved from a per-row
    when/raise chain to a per-component violation flag OR-aggregated
    per group. Pin (a) packed ≡ struct on in-range data, (b) the plan
    stays a sort-free HashAggregate, (c) out-of-range and NULL tie
    values still raise on evaluation instead of silently mis-ranking,
    also next to clean rows of the same group."""
    df = spark.createDataFrame(
        [
            ("P1", "2024-06-10", "2024-06-08", 3, 108),
            ("P1", "2024-06-10", "2024-06-08", 1, 101),  # tie dist, lower tie wins
            ("P1", "2024-06-10", "2024-06-05", 0, 205),
            ("P2", "2024-06-10", "2024-06-09", 7, 307),
        ],
        "key string, l_date string, r_date string, tie int, val int",
    )
    kwargs = dict(
        partition_cols=["key"],
        left_date="l_date",
        right_date="r_date",
        value_cols=["val", "tie"],
        tie_breakers=["tie"],
    )
    packed = joins.asof_select_min_by(df, tie_bits=(3,), **kwargs)
    struct = joins.asof_select_min_by(df, tie_bits=None, **kwargs)
    assert sorted(map(tuple, packed.collect())) == sorted(map(tuple, struct.collect()))

    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan and "HashAggregate" in plan

    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    # tie value 9 needs 4 bits > tie_bits=(3,): must raise, not mis-rank
    bad = df.union(
        spark.createDataFrame(
            [("P1", "2024-06-10", "2024-06-10", 9, 999)], df.schema
        )
    )
    with pytest.raises((Py4JJavaError, PythonException, Exception)):
        joins.asof_select_min_by(bad, tie_bits=(3,), **kwargs).collect()

    # NULL tie: must raise (min_by would silently skip the row)
    nulled = df.union(
        spark.createDataFrame(
            [("P3", "2024-06-10", "2024-06-10", None, 42)], df.schema
        )
    )
    with pytest.raises((Py4JJavaError, PythonException, Exception)):
        joins.asof_select_min_by(nulled, tie_bits=(3,), **kwargs).collect()

    # a clean row of the SAME group must not hide a negative tie (it
    # would pack below the clean rows and win) or a NULL one (min_by
    # would skip it): the group guard is an OR over its rows
    for bad_tie in (-1, None):
        mixed = df.union(
            spark.createDataFrame(
                [("P1", "2024-06-10", "2024-06-08", bad_tie, 666)], df.schema
            )
        )
        with pytest.raises(Exception, match="outside the packable range"):
            joins.asof_select_min_by(mixed, tie_bits=(3,), **kwargs).collect()


def test_salted_join_equals_plain_join(spark):
    """ROADMAP 6: salting must be a pure plan rewrite — identical
    result to the unsalted equi-join on hot-key data."""
    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import salted_join

    # one pathological hot key + a long tail
    left = spark.createDataFrame(
        [("HOT", i) for i in range(1000)] + [("P%03d" % i, i) for i in range(50)],
        "patient_id string, seq int",
    )
    right = spark.createDataFrame(
        [("HOT", "icu"), ("P001", "ward"), ("P002", "er")],
        "patient_id string, unit string",
    )
    plain = left.join(right, "patient_id").groupBy("patient_id", "unit").agg(
        F.count(F.lit(1)).alias("n"), F.sum("seq").alias("s")
    )
    salted = salted_join(left, right, ["patient_id"], salt_buckets=8).groupBy(
        "patient_id", "unit"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("seq").alias("s"))
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    # left join keeps unmatched rows exactly once
    lp = left.join(right, "patient_id", "left").count()
    ls = salted_join(left, right, ["patient_id"], salt_buckets=8, how="left").count()
    assert lp == ls


def test_aqe_splits_skewed_band_join(spark):
    """100×-scale risk in the fact-join shape
    (fact_patient_encounters.sql:111-115): one pathological hot
    patient_id. With AQE skew-join on (thresholds lowered to make the
    tiny fixture register as skewed), the final adaptive plan must
    split the hot shuffle partition instead of funneling it into one
    task."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        # 50% of vitals on one hot patient; sha2 pad keeps the shuffle
        # bytes incompressible so the size-based skew detector fires.
        left = spark.range(0, 20000, 1, 8).select(
            F.when(F.col("id") % 2 == 0, F.lit("HOT"))
            .otherwise(F.concat(F.lit("P"), (F.col("id") % 500).cast("string")))
            .alias("patient_id"),
            F.lit("2024-06-10").alias("l_date"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.createDataFrame(
            [("HOT", "2024-06-08", "C1"), ("P1", "2024-06-09", "C2"),
             ("P2", "2024-07-30", "C3")],
            "patient_id string, r_date string, claim_id string",
        )
        j = joins.band_join(left, right, ["patient_id"], "l_date", "r_date", band_days=7)
        assert j.count() == 20000  # HOT+P1 match once, P2's claim out of band
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_salted_join_bounds_hot_key_per_task(spark):
    """For skew AQE cannot split (hot key feeding a downstream agg),
    salted_join must actually SPREAD the hot key: its rows land in
    multiple shuffle partitions, none holding ~all of them."""
    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import salted_join

    # force the shuffle-join path and keep AQE from coalescing the tiny
    # fixture into one partition, so spark_partition_id() observes the
    # actual (key, salt) hash distribution
    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        left = spark.createDataFrame(
            [("HOT", i) for i in range(4000)] + [("P%03d" % i, i) for i in range(100)],
            "patient_id string, seq int",
        )
        right = spark.createDataFrame(
            [("HOT", "icu"), ("P001", "ward")], "patient_id string, unit string"
        )
        tagged = salted_join(left, right, ["patient_id"], salt_buckets=8).withColumn(
            "pid", F.spark_partition_id()
        )
        dist = {
            r["pid"]: r["n"]
            for r in tagged.filter(F.col("patient_id") == "HOT")
            .groupBy("pid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    total = sum(dist.values())
    assert total == 4000
    # 8 deterministic salts over the session's 4 shuffle partitions:
    # the hot key must span >1 task and no task may see ~everything
    assert len(dist) >= 2, dist
    assert max(dist.values()) <= 0.75 * total, dist


def test_band_join_bucketed_equals_plain_and_prunes_pairs(spark):
    """The bucketed band join's two claims, both deterministic:
    (1) EQUIVALENCE — identical rows to plain band_join on a shape
    with multiple rows per key, nulls, and matchless keys (the corpus
    entry j1_band_join_bucketed re-proves this against the DuckDB
    oracle at driver scale);
    (2) PRUNING — on the shape bucketing exists for (many rows per
    key, dates spread far beyond the band) the candidate pairs the
    shuffle must examine collapse by >10× vs the key-only equi join.
    Wall-clock is measured in bench.py; this pins the plan-level
    cause."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.date(2020, 1, 1)
    # 10 keys × 80 left rows × 80 right rows, dates uniform over ~4.4
    # years — per-key candidate space 6400, band matches only a sliver
    left = spark.createDataFrame(
        [(k, base + dt.timedelta(days=(i * 20) % 1600)) for k in range(10) for i in range(80)],
        "k long, l_date date",
    )
    right = spark.createDataFrame(
        [(k, base + dt.timedelta(days=(i * 20 + 7) % 1600)) for k in range(10) for i in range(80)],
        "k long, r_date date",
    )
    plain = joins.band_join(left, right, ["k"], "l_date", "r_date", band_days=30, how="inner")
    bucketed = joins.band_join_bucketed(
        left, right, ["k"], "l_date", "r_date", band_days=30, how="inner"
    )
    key = lambda r: (r["k"], r["l_date"], r["r_date"])  # noqa: E731
    assert sorted(map(key, plain.collect())) == sorted(map(key, bucketed.collect()))
    assert plain.count() > 0

    # candidate pairs each plan's shuffle examines before the band filter
    cand_plain = left.join(right, "k").count()  # 10 × 80 × 80 = 64_000
    lx, rx, cond, _band = joins._bucketed_candidates(
        left, right, ["k"], "l_date", "r_date", 30
    )
    cand_bucketed = lx.join(rx, cond).count()
    assert cand_plain == 64_000
    assert cand_bucketed * 10 < cand_plain, (cand_bucketed, cand_plain)

    # LEFT semantics: keys with no band match survive as null rows
    far_left = spark.createDataFrame([(99, base)], "k long, l_date date")
    lonely = joins.band_join_bucketed(
        far_left, right, ["k"], "l_date", "r_date", band_days=30, how="left"
    ).collect()
    assert len(lonely) == 1 and lonely[0]["r_date"] is None


# --- interval_overlap_join -------------------------------------------


def _iv(spark, rows, pre):
    return spark.createDataFrame(
        rows, f"{pre}id long, {pre}s date, {pre}e date"
    )


def test_interval_overlap_bucketed_equals_naive(spark):
    import datetime as dt
    import random

    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import interval_overlap_join

    rng = random.Random(7)
    base = dt.date(2024, 1, 1)
    a_rows, b_rows = [], []
    for i in range(60):
        s = base + dt.timedelta(days=rng.randrange(0, 300))
        a_rows.append((i, s, s + dt.timedelta(days=rng.randrange(0, 45))))
    for j in range(40):
        s = base + dt.timedelta(days=rng.randrange(0, 300))
        b_rows.append((j, s, s + dt.timedelta(days=rng.randrange(0, 45))))
    a, b = _iv(spark, a_rows, "a"), _iv(spark, b_rows, "b")
    got = {
        (r["aid"], r["bid"])
        for r in interval_overlap_join(
            a, b, "as", "ae", "bs", "be", bucket_days=20
        ).collect()
    }
    naive = {
        (ai, bj)
        for (ai, as_, ae) in a_rows
        for (bj, bs, be) in b_rows
        if as_ <= be and bs <= ae
    }
    assert got == naive  # exactly once per true pair, none missed


def test_interval_overlap_bucketed_no_cartesian_in_plan(spark):
    import datetime as dt

    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import interval_overlap_join

    d = dt.date(2024, 1, 1)
    a = _iv(spark, [(1, d, d)], "a")
    b = _iv(spark, [(2, d, d)], "b")
    plan = (
        interval_overlap_join(a, b, "as", "ae", "bs", "be", bucket_days=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_interval_overlap_keyed_left_join_keeps_unmatched(spark):
    import datetime as dt

    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import interval_overlap_join

    d = dt.date(2024, 1, 1)
    a = spark.createDataFrame(
        [(1, "k1", d, d + dt.timedelta(days=5)),
         (2, "k2", d, d + dt.timedelta(days=5))],
        "aid long, k string, as date, ae date",
    )
    b = spark.createDataFrame(
        [("k1", d + dt.timedelta(days=3), d + dt.timedelta(days=9)),
         ("k2", d + dt.timedelta(days=30), d + dt.timedelta(days=40))],
        "k string, bs date, be date",
    )
    out = interval_overlap_join(
        a, b, "as", "ae", "bs", "be", on=["k"], how="left"
    )
    rows = {r["aid"]: r["bs"] for r in out.collect()}
    assert rows[1] is not None  # overlapping match joined
    assert rows[2] is None      # key matches but intervals don't → NULL side


def test_interval_overlap_keyed_full_outer_coalesces_keys(spark):
    """ADVICE r6: full_outer right-only rows must carry the RIGHT key,
    not a NULL left key — the output key coalesces both sides."""
    import datetime as dt

    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import interval_overlap_join

    d = dt.date(2024, 1, 1)
    a = spark.createDataFrame(
        [(1, "k1", d, d + dt.timedelta(days=5))],
        "aid long, k string, as date, ae date",
    )
    b = spark.createDataFrame(
        [("k1", d + dt.timedelta(days=3), d + dt.timedelta(days=9)),
         ("k9", d, d + dt.timedelta(days=2))],  # right-only key
        "k string, bs date, be date",
    )
    out = interval_overlap_join(
        a, b, "as", "ae", "bs", "be", on=["k"], how="full_outer"
    ).collect()
    by_key = {r["k"]: r for r in out}
    assert set(by_key) == {"k1", "k9"}  # no NULL-keyed row
    assert by_key["k9"]["aid"] is None and by_key["k9"]["bs"] is not None
    assert by_key["k1"]["aid"] == 1


def test_interval_overlap_keyless_rejects_outer(spark):
    import datetime as dt

    import pytest as _pytest

    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import interval_overlap_join

    d = dt.date(2024, 1, 1)
    a = _iv(spark, [(1, d, d)], "a")
    b = _iv(spark, [(2, d, d)], "b")
    with _pytest.raises(ValueError):
        interval_overlap_join(a, b, "as", "ae", "bs", "be", how="left")


# --- bucket_prefilter_semi_join --------------------------------------


def test_bucket_prefilter_exact_equals_semi_join(spark):
    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import (
        bucket_prefilter_semi_join,
    )

    fact = spark.range(5000).selectExpr("id AS k", "id * 2 AS payload")
    dim = spark.range(5000).filter("id % 37 = 0").selectExpr("id AS k")
    got = {r["k"] for r in bucket_prefilter_semi_join(fact, dim, "k").collect()}
    want = {r["k"] for r in fact.join(dim, "k", "leftsemi").collect()}
    assert got == want


def test_bucket_prefilter_no_false_negatives_and_bounded_fpr(spark):
    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import (
        bucket_prefilter_semi_join,
    )

    fact = spark.range(20000).selectExpr("id AS k")
    dim = spark.range(20000).filter("id % 100 = 0").selectExpr("id AS k")  # 200 keys
    pre = bucket_prefilter_semi_join(fact, dim, "k", num_buckets=1 << 14, exact=False)
    survivors = {r["k"] for r in pre.collect()}
    true_keys = {r["k"] for r in dim.collect()}
    assert true_keys <= survivors  # never drops a real match
    # fpr ≈ 200/16384 ≈ 1.2%; allow generous slack for hash clumping
    false_pos = len(survivors - true_keys)
    assert false_pos <= len(fact.collect()) * 0.05


def test_bucket_prefilter_fingerprint_is_broadcast(spark):
    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import (
        bucket_prefilter_semi_join,
    )

    fact = spark.range(100).selectExpr("id AS k")
    dim = spark.range(10).selectExpr("id AS k")
    plan = (
        bucket_prefilter_semi_join(fact, dim, "k")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # both stages broadcast; the fact is never shuffled
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_band_join_auto_dispatches_by_measured_shape(spark):
    """band_join_auto executes the documented numeric rule: plain on
    low-multiplicity/clustered shapes, bucketed on many-rows-per-key
    dates-spread-wide shapes — and both paths return band_join's
    exact rows."""
    import datetime as dt

    base = dt.date(2020, 1, 1)
    # low multiplicity (m≈3, s≈1): must pick plain
    small_l = spark.createDataFrame(
        [(k, base + dt.timedelta(days=k)) for k in range(10)], "k long, l_date date"
    )
    small_r = spark.createDataFrame(
        [(k, base + dt.timedelta(days=k + i)) for k in range(10) for i in range(3)],
        "k long, r_date date",
    )
    out, strategy = joins.band_join_auto(
        small_l, small_r, ["k"], "l_date", "r_date", band_days=7, how="inner"
    )
    assert strategy == "plain"
    want = joins.band_join(small_l, small_r, ["k"], "l_date", "r_date", 7, "inner")
    key = lambda r: (r["k"], r["l_date"], r["r_date"])  # noqa: E731
    assert sorted(map(key, out.collect())) == sorted(map(key, want.collect()))

    # the pinned pruning shape (m=80, s≈27): must pick bucketed
    big_l = spark.createDataFrame(
        [(k, base + dt.timedelta(days=(i * 20) % 1600)) for k in range(3) for i in range(80)],
        "k long, l_date date",
    )
    big_r = spark.createDataFrame(
        [(k, base + dt.timedelta(days=(i * 20 + 7) % 1600)) for k in range(3) for i in range(80)],
        "k long, r_date date",
    )
    out2, strategy2 = joins.band_join_auto(
        big_l, big_r, ["k"], "l_date", "r_date", band_days=30, how="inner"
    )
    assert strategy2 == "bucketed"
    want2 = joins.band_join(big_l, big_r, ["k"], "l_date", "r_date", 30, "inner")
    assert sorted(map(key, out2.collect())) == sorted(map(key, want2.collect()))


def test_bucket_prefilter_mismatched_int_widths_no_false_negatives(spark):
    """ADVICE r6 (medium): xxhash64 is physical-type-sensitive — an
    int-keyed dim against a bigint-keyed fact must still find every
    true match (both sides widen to bigint before hashing)."""
    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import (
        bucket_prefilter_semi_join,
    )

    fact = spark.range(2000).selectExpr("id AS k")  # bigint
    dim = spark.range(2000).filter("id % 13 = 0").selectExpr(
        "CAST(id AS INT) AS k"
    )  # int — hashes differently from bigint without the widening cast
    got = {r["k"] for r in bucket_prefilter_semi_join(fact, dim, "k").collect()}
    want = {r["k"] for r in fact.join(dim, "k", "leftsemi").collect()}
    assert got == want and len(want) == len(range(0, 2000, 13))


def test_bucket_prefilter_incompatible_types_raise(spark):
    import pytest as _pytest

    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import (
        bucket_prefilter_semi_join,
    )

    fact = spark.range(10).selectExpr("id AS k")
    dim = spark.range(10).selectExpr("CAST(id AS STRING) AS k")
    with _pytest.raises(TypeError, match="incompatible types"):
        bucket_prefilter_semi_join(fact, dim, "k")


def test_band_join_bucketed_left_duplicate_left_raises(spark):
    """VERDICT r6 item 3: how='left' with duplicate left keys must
    fail loud (the key-granular recovery would silently drop rows)."""
    import datetime as dt

    import pytest as _pytest

    d = dt.date(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, d), (1, d + dt.timedelta(days=400))],  # dup key, one far row
        "k long, l_date date",
    )
    right = spark.createDataFrame([(1, d)], "k long, r_date date")
    with _pytest.raises(ValueError, match="unique left rows"):
        joins.band_join_bucketed(
            left, right, ["k"], "l_date", "r_date", band_days=7, how="left"
        )
    # the unchecked escape hatch still runs (caller asserts uniqueness)
    uniq = spark.createDataFrame([(1, d)], "k long, l_date date")
    out = joins.band_join_bucketed(
        uniq, right, ["k"], "l_date", "r_date", band_days=7, how="left",
        check_unique_left=False,
    )
    assert out.count() == 1


# --- asof_join_backward (union + LOCF) -------------------------------


def test_asof_backward_picks_latest_preceding(spark):
    import datetime as dt

    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import asof_join_backward

    T = dt.datetime
    left = spark.createDataFrame(
        [
            (1, "u", T(2024, 1, 10)),   # after both rights → picks the later one
            (2, "u", T(2024, 1, 4)),    # between rights → picks the first
            (3, "u", T(2024, 1, 1)),    # before any right → NULLs
            (4, "v", T(2024, 1, 10)),   # key with no rights at all → NULLs
        ],
        "lid long, k string, lts timestamp",
    )
    right = spark.createDataFrame(
        [("u", T(2024, 1, 3), 30.0), ("u", T(2024, 1, 7), 70.0)],
        "k string, rts timestamp, val double",
    )
    out = {
        r["lid"]: (r["asof_val"], r["asof_ts"])
        for r in asof_join_backward(
            left, right, ["k"], "lts", "rts", ["val"]
        ).collect()
    }
    T3, T7 = T(2024, 1, 3), T(2024, 1, 7)
    assert out[1] == (70.0, T7)
    assert out[2] == (30.0, T3)
    assert out[3] == (None, None)
    assert out[4] == (None, None)


def test_asof_backward_equal_ts_is_inclusive(spark):
    import datetime as dt

    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import asof_join_backward

    T = dt.datetime
    left = spark.createDataFrame([(1, "u", T(2024, 1, 5))], "lid long, k string, lts timestamp")
    right = spark.createDataFrame([("u", T(2024, 1, 5), 9.0)], "k string, rts timestamp, val double")
    row = asof_join_backward(left, right, ["k"], "lts", "rts", ["val"]).collect()[0]
    assert row["asof_val"] == 9.0  # right at the same instant IS visible


def test_asof_backward_plan_is_single_window_no_join(spark):
    import datetime as dt

    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import asof_join_backward

    T = dt.datetime
    left = spark.createDataFrame([(1, "u", T(2024, 1, 5))], "lid long, k string, lts timestamp")
    right = spark.createDataFrame([("u", T(2024, 1, 4), 1.0)], "k string, rts timestamp, val double")
    plan = (
        asof_join_backward(left, right, ["k"], "lts", "rts", ["val"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan  # union + window, never a join operator
    assert plan.count("Window") == 1


def test_join_cardinality_profile_and_explosion_guard(spark):
    """r8: the pre-flight cardinality profile reports exact per-key
    pair counts, and guard_join_explosion raises BEFORE executing an
    exploding join — naming the worst key — while passing benign ones
    through unchanged."""
    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import (
        guard_join_explosion,
        join_cardinality,
    )

    left = spark.createDataFrame(
        [("hot", i) for i in range(100)] + [("cold", 0), ("only_left", 0)],
        "k string, lv int",
    )
    right = spark.createDataFrame(
        [("hot", i) for i in range(50)] + [("cold", 1), ("only_right", 1)],
        "k string, rv int",
    )
    prof = {r["k"]: (r["n_left"], r["n_right"], r["pairs"])
            for r in join_cardinality(left, right, ["k"]).collect()}
    assert prof == {"hot": (100, 50, 5000), "cold": (1, 1, 1)}  # shared keys only

    with pytest.raises(ValueError, match="hot"):
        guard_join_explosion(left, right, ["k"], max_rows=1000)
    ok = guard_join_explosion(left, right, ["k"], max_rows=10_000)
    assert ok.count() == 5001  # guard passed; result is the plain join
