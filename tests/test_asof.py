"""As-of join: the one window kernel must agree with a pandas merge_asof
oracle across the exact/strict x tolerance matrix, including under skew
(SURVEY.md §5.2-6) and with zero leakage (no right row after left ts is
attached)."""

import datetime

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from profet_spark.operators import asof
from profet_spark.operators.asof import asof_join


def _mk_fixture(seed=7, n_entities=40, hot_frac=0.3):
    rng = np.random.default_rng(seed)
    base = pd.Timestamp("2025-01-01", tz=None)
    rows_l, rows_r = [], []
    for e in range(n_entities):
        eid = f"e{e:04d}"
        # entity 0 is the hot key: ~30% of all rows
        n_l = 120 if e == 0 else rng.integers(1, 9)
        n_r = 120 if e == 0 else rng.integers(0, 9)
        for _ in range(int(n_l)):
            rows_l.append((eid, base + pd.Timedelta(seconds=int(rng.integers(0, 10_000_000))),
                           float(rng.normal())))
        for _ in range(int(n_r)):
            rows_r.append((eid, base + pd.Timedelta(seconds=int(rng.integers(0, 10_000_000))),
                           float(rng.normal())))
    lp = pd.DataFrame(rows_l, columns=["image_id", "ts", "x"])
    rp = pd.DataFrame(rows_r, columns=["image_id", "ts", "upd"])
    # exact-ts collision rows to exercise allow_exact_matches
    lp.loc[0, "ts"] = rp.loc[0, "ts"] = base
    lp.loc[0, "image_id"] = rp.loc[0, "image_id"] = "e0001"
    return lp, rp


def _oracle(lp, rp, allow_exact=True, tolerance_s=None):
    tol = pd.Timedelta(seconds=tolerance_s) if tolerance_s else None
    out = pd.merge_asof(
        lp.sort_values("ts", kind="mergesort"),
        rp.sort_values("ts", kind="mergesort"),
        on="ts", by="image_id", direction="backward",
        allow_exact_matches=allow_exact, tolerance=tol,
    )
    return out.sort_values(["image_id", "ts", "x"]).reset_index(drop=True)


def _norm(pdf):
    return pdf.sort_values(["image_id", "ts", "x"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def fixture_dfs(spark):
    lp, rp = _mk_fixture()
    return spark.createDataFrame(lp), spark.createDataFrame(rp), lp, rp


@pytest.mark.parametrize("allow_exact", [True, False])
@pytest.mark.parametrize("tol", [None, 3600.0])
def test_asof_matches_oracle(spark, fixture_dfs, allow_exact, tol):
    ldf, rdf, lp, rp = fixture_dfs
    got = _norm(asof_join(ldf, rdf, tolerance_s=tol,
                          allow_exact_matches=allow_exact).toPandas())
    want = _oracle(lp, rp, allow_exact=allow_exact, tolerance_s=tol)
    assert len(got) == len(lp)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_asof_strict_and_tolerance(spark, fixture_dfs):
    ldf, rdf, lp, rp = fixture_dfs
    got = _norm(asof_join(ldf, rdf, allow_exact_matches=False,
                          tolerance_s=50_000).toPandas())
    want = _oracle(lp, rp, allow_exact=False, tolerance_s=50_000)
    pd.testing.assert_series_equal(got["upd"], want["upd"], check_names=False)


def test_asof_zero_leakage(spark, fixture_dfs):
    """Poison every right row strictly after each left ts: results must be
    unchanged when future rows are dropped entirely."""
    ldf, rdf, lp, rp = fixture_dfs
    full = _norm(asof_join(ldf, rdf).toPandas())
    t_cut = lp["ts"].quantile(0.5)
    l_cut = lp[lp.ts <= t_cut]
    r_cut = rp[rp.ts <= t_cut]
    cut = _norm(
        asof_join(spark.createDataFrame(l_cut), spark.createDataFrame(r_cut)).toPandas()
    )
    full_cut = full[full.ts <= t_cut].reset_index(drop=True)
    pd.testing.assert_frame_equal(full_cut, cut, check_like=True)


def _t(s):
    return datetime.datetime(2024, 1, 1, 0, 0, s)


def test_asof_strict_falls_back_past_equal_ts(spark):
    """With allow_exact_matches=False a left row rejects the right row at
    its own ts and takes the latest one strictly before it."""
    left = spark.createDataFrame([("e", _t(2), 1)], ["image_id", "ts", "k"])
    right = spark.createDataFrame(
        [("e", _t(1), 10.0), ("e", _t(2), 20.0)], ["image_id", "ts", "v"])
    got = asof_join(left, right, allow_exact_matches=False).toPandas()
    assert got.v.tolist() == [10.0]


def test_asof_null_entity_matches_null_entity(spark):
    """A NULL entity key is one group, as in merge_asof: a NULL-entity
    left row attaches the NULL-entity right row and nothing else."""
    left = spark.createDataFrame([(None, _t(2), 1), ("e", _t(3), 2)],
                                 "image_id string, ts timestamp, k int")
    right = spark.createDataFrame([(None, _t(1), 10.0), ("e", _t(1), 30.0)],
                                  "image_id string, ts timestamp, v double")
    got = asof_join(left, right).toPandas().sort_values("k")
    assert got.v.tolist() == [10.0, 30.0]


def test_asof_null_ts_raises(spark, fixture_dfs):
    """NULL ts = undefined point-in-time semantics: one loud contract on
    either side, backward and forward (the window carry would otherwise
    silently smear values across the NULL)."""
    ldf, rdf, lp, rp = fixture_dfs
    lnull = ldf.withColumn(
        "ts", F.when(F.col("x") == lp.x.iloc[0], None).otherwise(F.col("ts")))
    rnull = rdf.withColumn(
        "ts", F.when(F.col("upd") == rp.upd.iloc[0], None).otherwise(F.col("ts")))
    for left, right in ((lnull, rdf), (ldf, rnull)):
        with pytest.raises(Exception, match="asof_join: NULL ts"):
            asof_join(left, right).count()
    with pytest.raises(Exception, match="label_join: NULL ts"):
        asof.label_join(lnull, rdf).count()


def test_asof_output_name_collision_raises(spark, fixture_dfs):
    """left(x, x_r) x right(x): the suffixed name collides with a left
    column — must raise clearly instead of emitting duplicate labels."""
    ldf, rdf, _, _ = fixture_dfs
    left2 = ldf.withColumn("upd", F.lit(1.0)).withColumn("upd_r", F.lit(2.0))
    with pytest.raises(ValueError, match="collides"):
        asof_join(left2, rdf)


# ---------------------------------------------------------- composite keys


def _mk_composite_fixture(seed=23, n_entities=12):
    """Two-column entity key (image_id, cam): per-(id, cam) histories that
    would cross-contaminate if the join partitioned on image_id alone."""
    rng = np.random.default_rng(seed)
    base = pd.Timestamp("2025-01-01")
    rows_l, rows_r = [], []
    for e in range(n_entities):
        for cam in ("a", "b"):
            eid = f"e{e:03d}"
            for _ in range(int(rng.integers(2, 10))):
                rows_l.append((eid, cam, base + pd.Timedelta(
                    seconds=int(rng.integers(0, 1_000_000))), float(rng.normal())))
            for _ in range(int(rng.integers(0, 7))):
                rows_r.append((eid, cam, base + pd.Timedelta(
                    seconds=int(rng.integers(0, 1_000_000))), float(rng.normal())))
    lp = pd.DataFrame(rows_l, columns=["image_id", "cam", "ts", "x"])
    rp = pd.DataFrame(rows_r, columns=["image_id", "cam", "ts", "upd"]
                      ).drop_duplicates(["image_id", "cam", "ts"])
    # planted divergence: same image_id+ts exists under BOTH cams with
    # different upd values — a single-key merge would pick the wrong one
    lp.loc[0, ["image_id", "cam", "ts"]] = ["e000", "a", base]
    return lp, rp.reset_index(drop=True)


def test_asof_composite_key_matches_oracle(spark):
    lp, rp = _mk_composite_fixture()
    ldf, rdf = spark.createDataFrame(lp), spark.createDataFrame(rp)
    out = asof_join(ldf, rdf, entity=["image_id", "cam"], ts="ts").toPandas()
    want = pd.merge_asof(
        lp.sort_values("ts", kind="mergesort"),
        rp.sort_values("ts", kind="mergesort"),
        on="ts", by=["image_id", "cam"], direction="backward",
    )
    key = ["image_id", "cam", "ts", "x"]
    out = out.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(out, want, check_dtype=False)


class TestIntervalJoin:
    """Binned point-in-interval join (J4 scale path, no equi key)."""

    def _fixture(self, spark):
        pts = spark.createDataFrame(
            [(i, f"2024-01-01 {h:02d}:30:00")
             for i, h in enumerate([0, 1, 3, 5, 8, 23])],
            "pid int, ts_s string").selectExpr(
                "pid", "CAST(ts_s AS TIMESTAMP) AS ts")
        iv = spark.createDataFrame(
            [(100, "2024-01-01 00:00:00", "2024-01-01 02:00:00"),
             (200, "2024-01-01 01:30:00", "2024-01-01 06:00:00"),
             (300, "2024-01-01 22:00:00", None),        # open-ended
             (400, "2024-01-01 05:30:00", "2024-01-01 05:30:00")],  # empty
            "iid int, s_s string, e_s string").selectExpr(
                "iid", "CAST(s_s AS TIMESTAMP) AS start_ts",
                "CAST(e_s AS TIMESTAMP) AS end_ts")
        return pts, iv

    def _oracle(self, pts, iv):
        from pyspark.sql import functions as F
        return (pts.crossJoin(iv)
                .where((F.col("ts") >= F.col("start_ts"))
                       & (F.col("end_ts").isNull()
                          | (F.col("ts") < F.col("end_ts"))))
                .select("pid", "iid"))

    def test_matches_theta_oracle_no_keys(self, spark):
        pts, iv = self._fixture(spark)
        got = (asof.interval_join(pts, iv, "ts", "start_ts", "end_ts",
                                  bin_seconds=3600)
               .select("pid", "iid"))
        want = self._oracle(pts, iv)
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want.collect()))
        # bin size must not change results
        got2 = (asof.interval_join(pts, iv, "ts", "start_ts", "end_ts",
                                   bin_seconds=613)
                .select("pid", "iid"))
        assert sorted(map(tuple, got2.collect())) == \
            sorted(map(tuple, want.collect()))

    def test_left_keeps_unmatched_and_cell_only_matches(self, spark):
        from pyspark.sql import functions as F
        pts, iv = self._fixture(spark)
        out = asof.interval_join(pts, iv, "ts", "start_ts", "end_ts",
                                 bin_seconds=3600, how="left")
        # pid=3 (05:30) is in interval 200's span; pid=2 (03:30) also 200;
        # pid=4 (08:30) matches nothing but shares NO cell; the empty
        # interval 400 shares pid=3's cell yet matches nothing — pid=3
        # must still match 200 only, and fully unmatched points survive
        rows = {(r.pid, r.iid) for r in out.select("pid", "iid").collect()}
        assert (4, None) in rows
        assert {(p, i) for p, i in rows if i is not None} == \
            {tuple(r) for r in self._oracle(pts, iv).collect()}
        assert out.where(F.col("pid").isNull()).count() == 0

    def test_plan_has_no_nested_loop(self, spark):
        pts, iv = self._fixture(spark)
        binned = asof.interval_join(pts, iv, "ts", "start_ts", "end_ts")
        plan = binned._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        # the naive theta join over the same inputs DOES nest — the
        # degenerate shape this operator exists to avoid
        naive = pts.join(iv, (pts.ts >= iv.start_ts)
                         & (iv.end_ts.isNull() | (pts.ts < iv.end_ts)))
        nplan = naive._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in nplan or "Cartesian" in nplan

    def test_keyed_variant_and_column_collision_guard(self, spark):
        from pyspark.sql import functions as F
        pts, iv = self._fixture(spark)
        ptsk = pts.withColumn("k", F.pmod(F.col("pid"), F.lit(2)))
        ivk = iv.withColumn("k", F.pmod(F.col("iid") / 100, F.lit(2)).cast("int"))
        got = (asof.interval_join(ptsk, ivk, "ts", "start_ts", "end_ts",
                                  keys=["k"], bin_seconds=3600)
               .select("pid", "iid"))
        want = (ptsk.alias("p").join(
            ivk.alias("i"),
            (F.col("p.k") == F.col("i.k"))
            & (F.col("p.ts") >= F.col("i.start_ts"))
            & (F.col("i.end_ts").isNull()
               | (F.col("p.ts") < F.col("i.end_ts"))))
            .select("pid", "iid"))
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want.collect()))
        with pytest.raises(ValueError, match="ambiguous"):
            asof.interval_join(ptsk.withColumn("iid", F.lit(1)), ivk,
                               "ts", "start_ts", "end_ts", keys=["k"])
