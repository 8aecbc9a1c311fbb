"""Tests for skew-resistant aggregation (operators.skew)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nsp_bolt_pipeline_spark.operators.skew import (
    distinct_count,
    salted_agg,
)


def _skewed(spark):
    # 'hot' carries 2000 rows, 'cold' 10 — the skewed-key shape
    hot = spark.range(2000).select(
        F.lit("hot").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    cold = spark.range(10).select(
        F.lit("cold").alias("k"), F.col("id").cast("double").alias("v")
    )
    return hot.union(cold)


def test_salted_agg_equals_direct_agg(spark):
    df = _skewed(spark)
    got = {
        r["k"]: r.asDict()
        for r in salted_agg(
            df,
            keys=["k"],
            measures={
                "s": ("sum", "v"),
                "c": ("count", "v"),
                "lo": ("min", "v"),
                "hi": ("max", "v"),
                "m": ("avg", "v"),
            },
            salt_buckets=8,
        ).collect()
    }
    want = {
        r["k"]: r.asDict()
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("s"),
            F.count("v").alias("c"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.avg("v").alias("m"),
        )
        .collect()
    }
    for k in want:
        assert got[k]["c"] == want[k]["c"]
        assert got[k]["lo"] == want[k]["lo"]
        assert got[k]["hi"] == want[k]["hi"]
        assert abs(got[k]["s"] - want[k]["s"]) < 1e-9
        assert abs(got[k]["m"] - want[k]["m"]) < 1e-9


def test_salted_agg_fans_hot_key_across_buckets(spark):
    df = _skewed(spark)
    salt = (F.abs(F.xxhash64("v")) % 8).alias("_salt")
    n_buckets = (
        df.filter(F.col("k") == "hot")
        .select(salt)
        .distinct()
        .count()
    )
    assert n_buckets == 8  # the hot key really spreads over all buckets


def test_approx_sketches_query_bounds(spark):
    from nsp_bolt_pipeline_spark import registry as _registry
    from nsp_bolt_pipeline_spark.registry import REGISTRY

    _registry.load_all()
    fn, oracle = REGISTRY["agg_approx_sketches"]
    assert oracle is None  # sketches are estimator-specific: rows-only
    sf_dir = "/root/testdata/sf0.001"
    approx = {r["event_type"]: r for r in fn(spark, sf_dir).collect()}

    from nsp_bolt_pipeline_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for k, ex in exact.items():
        assert abs(approx[k]["approx_users"] - ex["users"]) <= 3 * 0.05 * ex["users"]

    # percentile_approx guarantees RANK accuracy, not value accuracy
    # (adjacent data values can be far apart in a thin tail): assert
    # the fraction of values <= the estimate brackets the target rank.
    for q, col in ((0.5, "p50_approx"), (0.95, "p95_approx")):
        for k, row in approx.items():
            grp = ev.filter(F.col("event_type") == k)
            n = grp.count()
            below = grp.filter(F.col("value") <= row[col]).count()
            assert q - 0.01 <= below / n <= q + 0.01, (k, q, below / n)


def test_salted_join_equals_plain_join(spark):
    from nsp_bolt_pipeline_spark.operators.skew import salted_join

    skewed = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", float(i)) for i in range(1000)],
        ["rid", "k", "v"],
    )
    small = spark.createDataFrame(
        [("hot", 1.0), ("cold", 2.0), ("absent", 3.0)], ["k", "w"]
    )
    plain = {(r["rid"], r["w"]) for r in skewed.join(small, "k").collect()}
    salted = {
        (r["rid"], r["w"])
        for r in salted_join(skewed, small, key="k", salt_buckets=8).collect()
    }
    assert salted == plain and len(salted) == 1000


def test_salted_left_join_keeps_unmatched(spark):
    from nsp_bolt_pipeline_spark.operators.skew import salted_join

    skewed = spark.createDataFrame([(1, "a"), (2, "zz")], ["rid", "k"])
    small = spark.createDataFrame([("a", 10.0)], ["k", "w"])
    rows = {
        r["rid"]: r["w"]
        for r in salted_join(skewed, small, key="k", how="left").collect()
    }
    assert rows == {1: 10.0, 2: None}


class TestSketchMerge:
    def test_hll_sketches_merge_across_days(self, spark):
        """Mergeability is the 100 TB story: daily HLL sketches union
        to the period estimate without rescanning — the datasketches
        binary column is the state a rollup table stores."""
        from pyspark.sql import functions as F

        ev = spark.range(3000).select(
            (F.col("id") % 7).cast("string").alias("day"),
            (F.col("id") % 500).alias("user_id"),
        )
        daily = ev.groupBy("day").agg(
            F.expr("hll_sketch_agg(user_id)").alias("sk")
        )
        merged = daily.agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
        ).collect()[0].est
        exact = ev.select("user_id").distinct().count()
        assert abs(merged - exact) / exact < 0.05


def test_fuzzy_default_block_trims_leading_whitespace(spark):
    from nsp_bolt_pipeline_spark.operators.fuzzy import fuzzy_match_pairs

    df = spark.createDataFrame(
        [(1, " apple pie"), (2, "apple pie")], "id long, t string"
    )
    got = fuzzy_match_pairs(
        df, id_col="id", text_col="t", max_distance=3
    ).collect()
    assert len(got) == 1 and got[0]["distance"] == 1


def test_fs_refined_block_key_preserves_every_match_decision(spark):
    """Composite-key blocking refinement: adding a field whose
    DISAGREEMENT weight already places a pair below the match
    threshold cannot lose a 'match' — only clerical-queue rows. Pins
    the fs_record_linkage_refined twin's weight-table argument on the
    real driver tables."""
    from nsp_bolt_pipeline_spark.operators.fuzzy import fs_match_scores
    from nsp_bolt_pipeline_spark.registry_dedup import (
        _FS_LOWER,
        _FS_UPPER,
        _fs_spark_fields,
        q_fs_linkage_refined,
    )
    from nsp_bolt_pipeline_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.01"  # sf0.001 has zero 'match' rows
    # the unrefined registry entry was superseded in round 6; rebuild
    # its definition inline (nation-only block) as the comparison base
    cust = read_table(spark, sf, "customer")
    full = fs_match_scores(
        cust,
        id_col="c_custkey",
        block_col="c_nationkey",
        fields=_fs_spark_fields(),
        upper=_FS_UPPER,
        lower=_FS_LOWER,
    )
    refined = q_fs_linkage_refined(spark, sf)

    def matches(df):
        return {
            (r["id1"], r["id2"])
            for r in df.filter(df.decision == "match").collect()
        }

    full_m, ref_m = matches(full), matches(refined)
    assert full_m, "fixture drifted: expected a non-empty match set"
    assert ref_m == full_m
    # and the refinement actually prunes candidates (possible rows)
    assert refined.count() < full.count()
