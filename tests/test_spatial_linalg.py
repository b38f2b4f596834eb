"""Round-7 ML-infrastructure operators: grid spatial join, quantized
Gram covariance, PCA, categorical feature scores.

The driver-facing value oracles live in test_driver_queries (the four
registry entries verify against DuckDB there); these tests pin the
operator semantics the oracle can't see — losslessness of the grid
decomposition vs brute force (including negative coordinates), plan
shape (no BNLJ/cartesian anywhere in a spatial plan), tie-break
determinism, Gram validation, and PCA vs numpy.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from google_analytics_to_s3_spark.operators.features import (
    categorical_feature_scores,
)
from google_analytics_to_s3_spark.operators.linalg import (
    covariance_matrix,
    pca_power_iteration,
    quantized_gram,
)
from google_analytics_to_s3_spark.operators.spatial import (
    nearest_within,
    radius_join,
)


def _mk_points(spark, coords, idc="pid"):
    return spark.createDataFrame(
        [(i, int(x), int(y)) for i, (x, y) in enumerate(coords)],
        f"{idc} long, x long, y long",
    )


def _brute_pairs(pts, pois, r):
    out = set()
    for i, (px, py) in enumerate(pts):
        for j, (qx, qy) in enumerate(pois):
            d2 = (px - qx) ** 2 + (py - qy) ** 2
            if d2 <= r * r:
                out.add((i, j, d2))
    return out


def test_radius_join_matches_brute_force_with_negatives(spark):
    rng = np.random.RandomState(7)
    pts = [tuple(v) for v in rng.randint(-500, 500, size=(200, 2))]
    pois = [tuple(v) for v in rng.randint(-500, 500, size=(40, 2))]
    r = 120
    got = {
        (row["pid"], row["poi_id"], row["dist2"])
        for row in radius_join(
            _mk_points(spark, pts),
            _mk_points(spark, pois, idc="poi_id"),
            r,
        ).collect()
    }
    assert got == _brute_pairs(pts, pois, r)


def test_radius_join_boundary_inclusive(spark):
    # dist exactly == r must be kept (<=, not <)
    pts = _mk_points(spark, [(0, 0)])
    pois = _mk_points(spark, [(3, 4), (3, 5)], idc="poi_id")
    rows = radius_join(pts, pois, 5).collect()
    assert [(r["poi_id"], r["dist2"]) for r in rows] == [(0, 25)]


def test_nearest_tie_breaks_to_smallest_poi_id(spark):
    pts = _mk_points(spark, [(0, 0), (9000, 9000)])
    # POIs 1 and 2 equidistant from point 0; POI 0 farther but in range
    pois = spark.createDataFrame(
        [(0, 8, 0), (1, 5, 0), (2, 0, 5), (3, 9005, 9005)],
        "poi_id long, x long, y long",
    )
    rows = {
        r["pid"]: r
        for r in nearest_within(pts, pois, 10).collect()
    }
    assert rows[0]["nearest_poi"] == 1
    assert rows[0]["nearest_dist2"] == 25
    assert rows[0]["n_in_radius"] == 3
    assert rows[1]["nearest_poi"] == 3


def test_nearest_keeps_unmatched_points(spark):
    pts = _mk_points(spark, [(0, 0), (5000, 5000)])
    pois = _mk_points(spark, [(2, 2)], idc="poi_id")
    rows = {r["pid"]: r for r in nearest_within(pts, pois, 10).collect()}
    assert rows[1]["nearest_poi"] is None
    assert rows[1]["n_in_radius"] == 0


def test_spatial_plan_has_no_nested_loop(spark):
    pts = _mk_points(spark, [(0, 0)])
    pois = _mk_points(spark, [(1, 1)], idc="poi_id")
    for df in (
        radius_join(pts, pois, 10),
        nearest_within(pts, pois, 10),
        radius_join(pts, pois, 10, broadcast_pois=False),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


def test_radius_join_rejects_bad_radius(spark):
    pts = _mk_points(spark, [(0, 0)])
    with pytest.raises(ValueError, match="radius"):
        radius_join(pts, pts.withColumnRenamed("pid", "poi_id"), 0)


# ---------------------------------------------------------------------------
# linalg
# ---------------------------------------------------------------------------


def _mk_vecs(spark, mat):
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )


def test_covariance_matches_numpy_exact(spark):
    rng = np.random.RandomState(3)
    x = rng.uniform(-0.6, 0.6, size=(50, 5)).astype(np.float32)
    got = {
        (r["i"], r["j"]): (r["cov"], r["corr"])
        for r in covariance_matrix(
            _mk_vecs(spark, x), "embedding", dim=5, scale=1000
        ).collect()
    }
    q = np.sign(x.astype(np.float64)) * np.floor(
        np.abs(x.astype(np.float64)) * 1000 + 0.5
    )
    n = q.shape[0]
    for i in range(5):
        for j in range(i, 5):
            num = n * int(q[:, i] @ q[:, j]) - int(q[:, i].sum()) * int(
                q[:, j].sum()
            )
            cov = num / (n * n * 1000.0 * 1000.0)
            vi = n * int(q[:, i] @ q[:, i]) - int(q[:, i].sum()) ** 2
            vj = n * int(q[:, j] @ q[:, j]) - int(q[:, j].sum()) ** 2
            corr = num / np.sqrt(float(vi) * float(vj))
            assert got[(i, j)][0] == pytest.approx(round(cov, 6), abs=1e-9)
            assert got[(i, j)][1] == pytest.approx(round(corr, 6), abs=1e-9)


def test_covariance_zero_variance_dim_gives_null_corr(spark):
    mat = [[0.5, 1.0], [0.5, 2.0], [0.5, 3.0]]
    rows = {
        (r["i"], r["j"]): r
        for r in covariance_matrix(
            _mk_vecs(spark, mat), "embedding", dim=2, scale=1000
        ).collect()
    }
    assert rows[(0, 0)]["cov"] == 0.0
    assert rows[(0, 0)]["corr"] is None
    assert rows[(0, 1)]["corr"] is None
    assert rows[(1, 1)]["corr"] == 1.0


def test_quantized_gram_rejects_ragged_vectors(spark):
    df = spark.createDataFrame(
        [(0, [0.1, 0.2]), (1, [0.3])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="length-2"):
        quantized_gram(df, "embedding", dim=2).collect()


def test_pca_power_iteration_matches_numpy():
    rng = np.random.RandomState(11)
    a = rng.randn(6, 6)
    cov = a @ a.T  # PSD with distinct eigenvalues (a.s.)
    vals, vecs = pca_power_iteration(cov.tolist(), k=3)
    ref_vals, ref_vecs = np.linalg.eigh(cov)
    ref_vals = ref_vals[::-1]
    ref_vecs = ref_vecs[:, ::-1]
    assert np.allclose(vals, ref_vals[:3], rtol=1e-8)
    for m in range(3):
        # eigenvectors equal up to sign
        assert abs(float(vecs[:, m] @ ref_vecs[:, m])) == pytest.approx(
            1.0, abs=1e-6
        )


def test_pca_rejects_bad_k():
    with pytest.raises(ValueError, match="k="):
        pca_power_iteration([[1.0, 0.0], [0.0, 1.0]], k=3)


# ---------------------------------------------------------------------------
# categorical feature scores
# ---------------------------------------------------------------------------


def test_independent_feature_scores_zero(spark):
    # perfectly independent 2x2 contingency: chi2 = mi = v = 0
    rows = []
    for val, y, cnt in [("a", "hi", 10), ("a", "lo", 10),
                        ("b", "hi", 5), ("b", "lo", 5)]:
        rows += [(val, y)] * cnt
    df = spark.createDataFrame(rows, "f string, y string")
    out = categorical_feature_scores(
        df, features={"f": F.col("f")}, label=F.col("y")
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n"], r["n_values"], r["n_labels"], r["dof"]) == (30, 2, 2, 1)
    assert r["chi2"] == 0.0
    assert r["mi"] == 0.0
    assert r["cramers_v"] == 0.0


def test_deterministic_feature_scores_exact(spark):
    # hand-computed 2x2: [[30, 10], [10, 30]]
    rows = []
    for val, y, cnt in [("a", "hi", 30), ("a", "lo", 10),
                        ("b", "hi", 10), ("b", "lo", 30)]:
        rows += [(val, y)] * cnt
    df = spark.createDataFrame(rows, "f string, y string")
    r = categorical_feature_scores(
        df, features={"f": F.col("f")}, label=F.col("y")
    ).collect()[0]
    # chi2 = sum (O-E)^2/E with every E = 20 -> 4 * 100/20 = 20
    assert r["chi2"] == pytest.approx(20.0, abs=1e-6)
    # mi = 2*(0.375 ln 1.5) + 2*(0.125 ln 0.5) nats
    expect_mi = 2 * (0.375 * np.log(1.5)) + 2 * (0.125 * np.log(0.5))
    assert r["mi"] == pytest.approx(round(expect_mi, 6), abs=1e-9)
    assert r["cramers_v"] == pytest.approx(round(np.sqrt(20 / 80), 6),
                                           abs=1e-9)


def test_null_feature_value_is_a_category(spark):
    df = spark.createDataFrame(
        [("a", "hi"), (None, "lo"), (None, "hi"), ("a", "lo")],
        "f string, y string",
    )
    r = categorical_feature_scores(
        df, features={"f": F.col("f")}, label=F.col("y")
    ).collect()[0]
    assert r["n"] == 4
    assert r["n_values"] == 2  # "a" and "<null>"


# ---------------------------------------------------------------------------
# acf / benford / fellegi-sunter
# ---------------------------------------------------------------------------


def test_acf_matches_numpy(spark):
    rng = np.random.RandomState(5)
    xs = rng.randint(100, 10000, size=40).tolist()
    df = spark.createDataFrame(
        [(t, int(x)) for t, x in enumerate(xs)], "t long, x long"
    )
    from google_analytics_to_s3_spark.operators.anomaly import acf

    got = {r["lag"]: r["acf"] for r in acf(df, "t", "x", 5).collect()}
    x = np.array(xs, dtype=np.float64)
    m = x.mean()
    den = ((x - m) ** 2).sum()
    for k in range(1, 6):
        expect = ((x[:-k] - m) * (x[k:] - m)).sum() / den
        assert got[k] == pytest.approx(expect, abs=1e-6)


def test_acf_perfect_period(spark):
    # strict period-2 alternation: acf(2) == 1, acf(1) == -1
    df = spark.createDataFrame(
        [(t, 100 if t % 2 == 0 else 200) for t in range(20)],
        "t long, x long",
    )
    from google_analytics_to_s3_spark.operators.anomaly import acf

    got = {r["lag"]: r["acf"] for r in acf(df, "t", "x", 2).collect()}
    # full-variance normalization: a perfect period yields (n-k)/n,
    # the standard ACF taper, not 1.0
    assert got[2] == pytest.approx(18 / 20, abs=1e-6)
    assert got[1] == pytest.approx(-19 / 20, abs=1e-6)


def test_acf_rejects_bad_lag(spark):
    df = spark.createDataFrame([(0, 1)], "t long, x long")
    from google_analytics_to_s3_spark.operators.anomaly import acf

    with pytest.raises(ValueError, match="max_lag"):
        acf(df, "t", "x", 0)


def test_benford_conforming_and_flat_series(spark):
    from google_analytics_to_s3_spark.operators.dq import benford_report

    # a geometric series is Benford-conforming; a flat one is not
    geo = spark.createDataFrame(
        [(int(1.07 ** i * 100),) for i in range(1, 300)], "amt long"
    )
    flat = spark.createDataFrame(
        [(500 + i,) for i in range(300)], "amt long"
    )
    g = benford_report(geo, "amt").collect()
    f = benford_report(flat, "amt").collect()
    assert len(g) == 9 and len(f) == 9
    assert not g[0]["benford_alarm"]
    assert f[0]["benford_alarm"]
    assert sum(r["observed"] for r in g) == 299
    # flat 500..799: first digits only 5/6/7 -> six digits observed 0
    assert sum(1 for r in f if r["observed"] == 0) == 6


def test_benford_skips_nonpositive_loudly(spark):
    from google_analytics_to_s3_spark.operators.dq import benford_report

    df = spark.createDataFrame(
        [(123,), (0,), (-5,), (None,)], "amt long"
    )
    rows = benford_report(df, "amt").collect()
    assert rows[0]["n_skipped"] == 3
    assert rows[0]["n"] == 1


def test_fs_linkage_scores_and_purge(spark):
    from google_analytics_to_s3_spark.operators.linkage import (
        fs_field_u,
        fs_link_scores,
    )

    rows = [
        # block 1: ids 1/2 agree on both fields; 3 disagrees
        (1, 1, "a", "x"), (2, 1, "a", "x"), (3, 1, "b", "y"),
        # block 2: two records, partial agreement
        (4, 2, "a", "y"), (5, 2, "a", "x"),
    ]
    df = spark.createDataFrame(rows, "id long, blk int, f1 string, f2 string")
    u = {f: fs_field_u(df, f) for f in ("f1", "f2")}
    assert u["f1"] == (4 * 3, 5 * 4)  # four "a"s, one "b"
    out = {
        (r["id_a"], r["id_b"]): r
        for r in fs_link_scores(
            df, "blk", {"f1": 0.9, "f2": 0.9}, u, threshold=-100.0
        ).collect()
    }
    import math

    u1 = u["f1"][0] / u["f1"][1]
    u2 = u["f2"][0] / u["f2"][1]
    w1, w2 = math.log(0.9 / u1) / math.log(2), math.log(0.9 / u2) / math.log(2)
    assert out[(1, 2)]["score"] == pytest.approx(round(w1 + w2, 6), abs=1e-9)
    assert out[(1, 2)]["agree_f1"] and out[(1, 2)]["agree_f2"]
    assert out[(4, 5)]["score"] == pytest.approx(
        round(w1 + math.log(0.1 / (1 - u2)) / math.log(2), 6), abs=1e-9
    )
    assert (1, 4) not in out  # cross-block pairs never form
    # purge: with max_block_size=2 the 3-record block vanishes
    purged = fs_link_scores(
        df, "blk", {"f1": 0.9, "f2": 0.9}, u,
        threshold=-100.0, max_block_size=2,
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in purged} == {(4, 5)}


def test_fs_link_scores_builds_without_jobs(spark, tmp_path):
    # the narrow-input gate must not make AQE run the block-count
    # aggregation and broadcast while the plan is only being built
    from google_analytics_to_s3_spark.operators.linkage import fs_link_scores

    path = str(tmp_path / "records")
    spark.createDataFrame(
        [(i, i % 3, "a" if i % 2 else "b") for i in range(30)],
        "id long, blk int, f1 string",
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    sc = spark.sparkContext
    sc.setJobGroup("fs_link_build", "build only")
    try:
        out = fs_link_scores(df, "blk", {"f1": 0.9}, {"f1": (1, 2)})
        assert sc.statusTracker().getJobIdsForGroup("fs_link_build") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the single-file input is still spread before the pair join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_id_a" in plan, plan
    assert out.count() > 0


def test_fs_rejects_mismatched_fields(spark):
    from google_analytics_to_s3_spark.operators.linkage import fs_link_scores

    df = spark.createDataFrame([(1, 1, "a")], "id long, blk int, f1 string")
    with pytest.raises(ValueError, match="same keys"):
        fs_link_scores(df, "blk", {"f1": 0.9}, {"f2": (1, 2)})


def test_ks_two_sample_matches_brute_force(spark):
    from google_analytics_to_s3_spark.operators.dq import ks_two_sample

    rng = np.random.RandomState(9)
    a = rng.randint(0, 300, size=400)
    b = np.clip(rng.randint(0, 300, size=350) + 30, 0, None)  # shifted
    rows = [(int(v), "a") for v in a] + [(int(v), "b") for v in b]
    df = spark.createDataFrame(rows, "v long, g string")
    got = ks_two_sample(df, "v", "g", "a", "b", buckets=16).collect()[0]
    # brute force D over the pooled support
    support = sorted(set(a) | set(b))
    na, nb = len(a), len(b)
    best, best_v = -1, None
    for v in support:
        dnum = abs(nb * int((a <= v).sum()) - na * int((b <= v).sum()))
        if dnum > best:
            best, best_v = dnum, v
    assert got["n_a"] == na and got["n_b"] == nb
    assert got["d_stat"] == pytest.approx(round(best / (na * nb), 6),
                                          abs=1e-9)
    assert got["d_at_value"] == best_v
    assert bool(got["ks_alarm"]) == (
        best / (na * nb)
        > 1.358 * np.sqrt((na + nb) / (na * nb))
    )


def test_ks_identical_distributions_zero(spark):
    from google_analytics_to_s3_spark.operators.dq import ks_two_sample

    rows = [(v, g) for v in range(50) for g in ("a", "b")]
    df = spark.createDataFrame(rows, "v long, g string")
    got = ks_two_sample(df, "v", "g", "a", "b").collect()[0]
    assert got["d_stat"] == 0.0
    assert not got["ks_alarm"]


def test_ks_raises_on_empty_group(spark):
    # r13: the guard moved from an eager build-time job into the lazy
    # plan (raise_error) — it fires on the first action, with the same
    # message
    from google_analytics_to_s3_spark.operators.dq import ks_two_sample

    df = spark.createDataFrame([(1, "a")], "v long, g string")
    with pytest.raises(Exception, match="empty sample"):
        ks_two_sample(df, "v", "g", "a", "b").collect()


def test_ks_plan_has_no_single_partition_sort(spark):
    from google_analytics_to_s3_spark.operators.dq import ks_two_sample

    rows = [(v % 97, "a" if v % 2 else "b") for v in range(500)]
    df = spark.createDataFrame(rows, "v long, g string")
    # r13: ks_two_sample is now ONE fully-lazy plan (no eager bounds /
    # subtotal jobs) — audit it directly. The cumulative window must
    # sort WITHIN bucket partitions only; the only globally-ordered
    # sort allowed is the prefix-offset window over the per-bucket
    # subtotal table, which is bounded by the `buckets` parameter
    # (8 rows here) at any data scale and never orders by the
    # per-value column.
    out = ks_two_sample(df, "v", "g", "a", "b", buckets=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Sort [" in line and "], true," in line:
            assert "_v" not in line, line
    # the cumulative window over the histogram is partitioned by
    # bucket (the SinglePartition exchanges that remain are the 1-row
    # bounds/total aggregates and the <= buckets-row offset window,
    # each bounded regardless of data scale)
    assert "hashpartitioning(_bucket" in plan, plan


def test_gini_extremes(spark):
    from google_analytics_to_s3_spark.operators.stats import (
        gini_concentration,
    )

    rows = (
        # group "eq": perfectly equal -> gini 0
        [("eq", i, 100) for i in range(10)]
        # group "one": one row owns everything -> gini (n-1)/n
        + [("one", i, 0) for i in range(9)]
        + [("one", 9, 1000)]
        # group "zero": all zeros -> gini NULL
        + [("zero", i, 0) for i in range(4)]
    )
    df = spark.createDataFrame(rows, "g string, uid long, x long")
    got = {
        r["g"]: r
        for r in gini_concentration(
            df, "x", "uid", ["g"], top_share=0.1
        ).collect()
    }
    assert got["eq"]["gini"] == 0.0
    assert got["eq"]["top_n"] == 1
    assert got["eq"]["top_value_share"] == 0.1
    assert got["one"]["gini"] == pytest.approx(0.9, abs=1e-9)
    assert got["one"]["top_value_share"] == 1.0
    assert got["zero"]["gini"] is None


def test_gini_matches_brute_force(spark):
    from google_analytics_to_s3_spark.operators.stats import (
        gini_concentration,
    )

    rng = np.random.RandomState(2)
    xs = rng.randint(0, 5000, size=200).tolist()
    df = spark.createDataFrame(
        [("g", i, int(x)) for i, x in enumerate(xs)],
        "g string, uid long, x long",
    )
    got = gini_concentration(df, "x", "uid", ["g"]).collect()[0]
    order = sorted(range(len(xs)), key=lambda i: (xs[i], i))
    n, tot = len(xs), sum(xs)
    rx = sum((r + 1) * xs[i] for r, i in enumerate(order))
    expect = (2 * rx - (n + 1) * tot) / (n * tot)
    assert got["gini"] == pytest.approx(round(expect, 6), abs=1e-9)
    top = sum(xs[i] for i in order[-(n // 10):])
    assert got["top_value_share"] == pytest.approx(
        round(top / tot, 6), abs=1e-9
    )


def test_holt_forecast_linear_series_is_exact(spark):
    from google_analytics_to_s3_spark.operators.anomaly import (
        holt_forecast,
    )

    # an exactly linear series: level/trend lock on immediately and
    # every fit + forecast is exact
    df = spark.createDataFrame(
        [(t, 1000 + 50 * t) for t in range(10)], "t long, x long"
    )
    out = holt_forecast(df, "t", "x", alpha=0.5, beta=0.5, horizon=3)
    rows = {(r["t"], r["kind"]): r for r in out.collect()}
    for t in range(1, 10):
        assert rows[(t, "fit")]["predicted"] == pytest.approx(
            1000 + 50 * t, abs=1e-6
        )
        assert rows[(t, "fit")]["actual"] == 1000 + 50 * t
    for h in range(1, 4):
        assert rows[(9 + h, "forecast")]["predicted"] == pytest.approx(
            1000 + 50 * (9 + h), abs=1e-6
        )
        assert rows[(9 + h, "forecast")]["actual"] is None


def test_holt_forecast_needs_two_periods(spark):
    from google_analytics_to_s3_spark.operators.anomaly import (
        holt_forecast,
    )

    df = spark.createDataFrame([(0, 5)], "t long, x long")
    with pytest.raises(ValueError, match=">= 2 periods"):
        holt_forecast(df, "t", "x")
