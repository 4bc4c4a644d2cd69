"""Point-in-time training-matrix assembly (feature-store spine join):
the fused single-window plan must equal N chained pandas merge_asof
calls, leak nothing, and stay a single-Exchange single-WindowExec
Python-free plan."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from profet_spark.operators.feature_matrix import point_in_time_matrix
from profet_spark.plans.inspect import formatted_plan, is_python_free


def _mk_fixture(seed=11, n_entities=30):
    rng = np.random.default_rng(seed)
    base = pd.Timestamp("2025-01-01")
    spine, fa, fb = [], [], []
    for e in range(n_entities):
        eid = f"e{e:03d}"
        for _ in range(int(rng.integers(2, 14))):
            spine.append((eid, base + pd.Timedelta(seconds=int(rng.integers(0, 1_000_000))),
                          float(rng.normal())))
        for _ in range(int(rng.integers(0, 10))):
            fa.append((eid, base + pd.Timedelta(seconds=int(rng.integers(0, 1_000_000))),
                       float(rng.normal()), int(rng.integers(0, 5))))
        for _ in range(int(rng.integers(0, 6))):
            fb.append((eid, base + pd.Timedelta(seconds=int(rng.integers(0, 1_000_000))),
                       float(rng.normal())))
    sp = pd.DataFrame(spine, columns=["image_id", "ts", "x"])
    ap = pd.DataFrame(fa, columns=["image_id", "ts", "fa_val", "fa_n"]
                      ).drop_duplicates(["image_id", "ts"])
    bp = pd.DataFrame(fb, columns=["image_id", "ts", "fb_val"]
                      ).drop_duplicates(["image_id", "ts"])
    # planted exact-ts collisions (spine ts == feature ts) to pin the
    # allow_exact boundary on both tables
    sp.loc[0, ["image_id", "ts"]] = ["e001", base]
    ap.loc[ap.index[0], ["image_id", "ts"]] = ["e001", base]
    bp.loc[bp.index[0], ["image_id", "ts"]] = ["e001", base]
    return sp, ap.reset_index(drop=True), bp.reset_index(drop=True)


def _with_asof_ts(fp, name, keep_ts):
    """The feature table plus, with ``keep_ts``, its ``<name>_asof_ts``
    audit column: the feature's own (unshifted) event time."""
    return fp.assign(**{f"{name}_asof_ts": fp["ts"]}) if keep_ts else fp


def _oracle(sp, ap, bp, allow_exact=True, tol_a=None, tol_b=None,
            keep_ts=False):
    out = sp.sort_values("ts", kind="mergesort")
    for name, fp, tol in (("fa", ap, tol_a), ("fb", bp, tol_b)):
        out = pd.merge_asof(
            out, _with_asof_ts(fp, name, keep_ts).sort_values("ts", kind="mergesort"),
            on="ts", by="image_id", direction="backward",
            allow_exact_matches=allow_exact,
            tolerance=pd.Timedelta(seconds=tol) if tol else None,
        )
    return out.sort_values(["image_id", "ts", "x"]).reset_index(drop=True)


def _norm(pdf):
    return pdf.sort_values(["image_id", "ts", "x"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def dfs(spark):
    sp, ap, bp = _mk_fixture()
    return (spark.createDataFrame(sp), spark.createDataFrame(ap),
            spark.createDataFrame(bp), sp, ap, bp)


@pytest.mark.parametrize("allow_exact", [True, False])
def test_matrix_matches_oracle(spark, dfs, allow_exact):
    sdf, adf, bdf, sp, ap, bp = dfs
    out = point_in_time_matrix(
        sdf, {"fa": adf, "fb": bdf}, entity="image_id", ts="ts",
        allow_exact_matches=allow_exact,
    ).toPandas()
    exp = _oracle(sp, ap, bp, allow_exact=allow_exact)
    pd.testing.assert_frame_equal(_norm(out), exp, check_dtype=False)


def test_matrix_asof_ts_matches_oracle(spark, dfs):
    sdf, adf, bdf, sp, ap, bp = dfs
    out = point_in_time_matrix(
        sdf, {"fa": adf, "fb": bdf}, entity="image_id", ts="ts",
        keep_feature_ts=True, tolerance_s={"fa": 200_000.0})
    assert out.columns == ["image_id", "ts", "x", "fa_val", "fa_n",
                           "fa_asof_ts", "fb_val", "fb_asof_ts"]
    exp = _oracle(sp, ap, bp, tol_a=200_000, keep_ts=True)
    pd.testing.assert_frame_equal(_norm(out.toPandas()), exp, check_dtype=False)


def test_matrix_zero_leakage_audit_column(spark, dfs):
    sdf, adf, bdf, *_ = dfs
    out = point_in_time_matrix(
        sdf, {"fa": adf, "fb": bdf}, entity="image_id", ts="ts",
        keep_feature_ts=True,
    )
    leaked = out.where(
        (F.col("fa_asof_ts") > F.col("ts")) | (F.col("fb_asof_ts") > F.col("ts"))
    ).count()
    assert leaked == 0
    # strict mode: matched ts must be STRICTLY earlier
    strict = point_in_time_matrix(
        sdf, {"fa": adf}, entity="image_id", ts="ts",
        allow_exact_matches=False, keep_feature_ts=True,
    )
    assert strict.where(F.col("fa_asof_ts") >= F.col("ts")).count() == 0


def test_matrix_plan_single_window_single_exchange(spark, dfs):
    sdf, adf, bdf, *_ = dfs
    out = point_in_time_matrix(sdf, {"fa": adf, "fb": bdf},
                               entity="image_id", ts="ts")
    plan = formatted_plan(out)
    # all carries fold into ONE WindowExec over ONE hash exchange — the
    # N-tables-one-shuffle contract of the module docstring (count the
    # "(n) Node" detail headers; the tree section repeats each name)
    import re
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert is_python_free(out)


def test_matrix_tolerance_per_table(spark, dfs):
    sdf, adf, bdf, sp, ap, bp = dfs
    out = point_in_time_matrix(
        sdf, {"fa": adf, "fb": bdf}, entity="image_id", ts="ts",
        tolerance_s={"fa": 50_000.0},
    ).toPandas()
    exp = _oracle(sp, ap, bp, tol_a=50_000)
    pd.testing.assert_frame_equal(_norm(out), exp, check_dtype=False)


def test_matrix_naming_and_errors(spark, dfs):
    sdf, adf, bdf, *_ = dfs
    # colliding value column across two tables -> both prefixed
    a2 = adf.select("image_id", "ts", F.col("fa_val").alias("v"))
    b2 = bdf.select("image_id", "ts", F.col("fb_val").alias("v"))
    out = point_in_time_matrix(sdf, {"fa": a2, "fb": b2},
                               entity="image_id", ts="ts")
    assert "fa_v" in out.columns and "fb_v" in out.columns
    # collision with a spine column -> prefixed
    a3 = adf.select("image_id", "ts", F.col("fa_val").alias("x"))
    out = point_in_time_matrix(sdf, {"fa": a3}, entity="image_id", ts="ts")
    assert "fa_x" in out.columns
    # irresolvable collision raises loudly
    with pytest.raises(ValueError, match="collides"):
        point_in_time_matrix(
            sdf.withColumn("fa_x", F.lit(1)), {"fa": a3},
            entity="image_id", ts="ts")
    # feature table with no value columns raises
    with pytest.raises(ValueError, match="no value columns"):
        point_in_time_matrix(sdf, {"fa": adf.select("image_id", "ts")},
                             entity="image_id", ts="ts")
    with pytest.raises(ValueError, match="no feature tables"):
        point_in_time_matrix(sdf, {}, entity="image_id", ts="ts")


def test_matrix_null_ts_raises(spark, dfs):
    sdf, adf, *_ = dfs
    bad = sdf.withColumn(
        "ts", F.when(F.col("image_id") == "e001", None).otherwise(F.col("ts")))
    with pytest.raises(Exception, match="NULL ts"):
        point_in_time_matrix(bad, {"fa": adf}, entity="image_id",
                             ts="ts").collect()


def test_matrix_empty_feature_table(spark, dfs):
    sdf, adf, *_ = dfs
    empty = adf.where(F.lit(False))
    out = point_in_time_matrix(sdf, {"fa": empty}, entity="image_id",
                               ts="ts").toPandas()
    assert len(out) == sdf.count()
    assert out["fa_val"].isna().all()


def test_matrix_composite_entity_key(spark):
    """Composite (image_id, cam) key: the fused plan must partition on the
    full tuple and agree with the pandas two-key merge_asof oracle."""
    from tests.test_asof import _mk_composite_fixture
    lp, rp = _mk_composite_fixture(seed=31)
    sdf = spark.createDataFrame(lp)
    fdf = spark.createDataFrame(rp)
    out = point_in_time_matrix(
        sdf, {"f": fdf}, entity=["image_id", "cam"], ts="ts",
    ).toPandas()
    want = pd.merge_asof(
        lp.sort_values("ts", kind="mergesort"),
        rp.sort_values("ts", kind="mergesort"),
        on="ts", by=["image_id", "cam"], direction="backward",
    )
    key = ["image_id", "cam", "ts", "x"]
    pd.testing.assert_frame_equal(
        out.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
        check_dtype=False)


def test_matrix_checkpointed_materialization_roundtrip(spark, dfs, tmp_path):
    """Production shape for the north rule's 'resumable from per-partition
    checkpoints' clause: the assembled training matrix materializes
    through the S7 checkpointed sink (bucket manifest: row counts +
    checksums + lineage), survives a mid-job kill, and reads back
    identical — the FM x S7 composition."""
    from profet_spark.sources import checkpoint as cp

    sdf, adf, bdf, *_ = dfs
    out = str(tmp_path / "fm_ckpt")
    matrix = point_in_time_matrix(
        sdf, {"fa": adf, "fb": bdf}, entity="image_id", ts="ts",
        keep_feature_ts=True)
    # mid-job kill after 2 committed buckets, then resume
    with pytest.raises(RuntimeError, match="injected failure"):
        cp.checkpointed_write(matrix, out, key_cols=["image_id", "ts"],
                              num_buckets=8, lineage="fm:test",
                              fail_after_buckets=2)
    res = cp.checkpointed_write(matrix, out, key_cols=["image_id", "ts"],
                                num_buckets=8, lineage="fm:test")
    assert len(res["skipped"]) == 2 and len(res["written"]) == 6
    assert cp.verify_manifest(spark, out)
    back = cp.read_checkpointed(spark, out)
    a = _norm(matrix.toPandas()).reset_index(drop=True)
    b = _norm(back.select(*matrix.columns).toPandas()).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_matrix_plan_window_count_independent_of_table_count(spark, dfs):
    """Attaching 8 tables must still plan ONE WindowExec + ONE Exchange —
    the N-independence claim of the module docstring."""
    import re
    sdf, adf, *_ = dfs
    feats = {f"t{i}": adf.select(
        "image_id", "ts", F.col("fa_val").alias(f"v{i}")) for i in range(8)}
    out = point_in_time_matrix(sdf, feats, entity="image_id", ts="ts")
    plan = formatted_plan(out)
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert [c for c in out.columns if c.startswith("v")] == [
        f"v{i}" for i in range(8)]


def test_leakage_audit_clean_matrix(spark, dfs):
    """A correctly assembled PIT matrix audits to zero violations and
    non-negative staleness for every feature."""
    from profet_spark.operators.feature_matrix import leakage_audit

    sdf, adf, bdf, *_ = dfs
    m = point_in_time_matrix(sdf, {"fa": adf, "fb": bdf},
                             entity="image_id", keep_feature_ts=True)
    audit = leakage_audit(m).toPandas().set_index("feature").sort_index()
    assert list(audit.index) == ["fa", "fb"]
    n = sdf.count()
    assert (audit["n_rows"] == n).all()
    assert (audit["n_violations"] == 0).all()
    assert (audit["min_staleness_us"].dropna() >= 0).all()
    assert (audit["n_matched"] <= audit["n_rows"]).all()
    # sum/max consistency: max <= sum for non-negative lags with >=1 match
    ok = audit["n_matched"] > 0
    assert (audit.loc[ok, "max_staleness_us"]
            <= audit.loc[ok, "sum_staleness_us"]).all()


def test_leakage_audit_detects_planted_leak(spark):
    """Shift one feature's asof-ts past the label ts: the audit must count
    exactly the shifted rows as violations, with a negative min lag."""
    import datetime as dt

    from profet_spark.operators.feature_matrix import leakage_audit

    t0 = dt.datetime(2025, 1, 1)
    rows = [("e1", t0 + dt.timedelta(hours=h),
             t0 + dt.timedelta(hours=h - 1),          # ok: 1h stale
             t0 + dt.timedelta(hours=h + (1 if h < 2 else -1)))  # 2 leaks
            for h in range(5)]
    m = spark.createDataFrame(
        rows, "image_id string, ts timestamp, good_asof_ts timestamp, "
              "bad_asof_ts timestamp")
    audit = leakage_audit(m).toPandas().set_index("feature")
    assert audit.loc["good", "n_violations"] == 0
    assert audit.loc["bad", "n_violations"] == 2
    assert audit.loc["bad", "min_staleness_us"] == -3_600_000_000
    assert audit.loc["good", "max_staleness_us"] == 3_600_000_000
    # explicit mapping + no-columns error path
    only_good = leakage_audit(m, features={"g": "good_asof_ts"}).toPandas()
    assert only_good["feature"].tolist() == ["g"]
    with pytest.raises(ValueError):
        leakage_audit(m.select("image_id", "ts"))


def test_leakage_audit_single_pass_plan(spark, dfs):
    """Audit = one scan -> generate(explode) -> partial agg -> exchange of
    |features| rows -> final agg. No join, no window, no Python."""
    from profet_spark.operators.feature_matrix import leakage_audit

    sdf, adf, bdf, *_ = dfs
    m = point_in_time_matrix(sdf, {"fa": adf, "fb": bdf},
                             entity="image_id", keep_feature_ts=True)
    audit = leakage_audit(m)
    assert is_python_free(audit)
    plan = formatted_plan(audit)
    assert "Generate" in plan and "HashAggregate" in plan
    # no join is introduced above the matrix's own plan: the audit section
    # (everything before the matrix's Window node) is join-free
    assert "Join" not in plan.split("Window")[0]


def _oracle_embargo(sp, ap, bp, emb_a=None, emb_b=None, allow_exact=True,
                    tol_a=None, tol_b=None, keep_ts=False):
    """merge_asof twin of the embargo semantics: shift the feature ts by
    the embargo; the shifted gap is true staleness MINUS the embargo, so a
    true-staleness tolerance narrows by the embargo on the shifted axis."""
    out = sp.sort_values("ts", kind="mergesort")
    for name, fp, emb, tol in (("fa", ap, emb_a, tol_a), ("fb", bp, emb_b, tol_b)):
        f = _with_asof_ts(fp, name, keep_ts).copy()
        if emb:
            f["ts"] = f["ts"] + pd.Timedelta(seconds=emb)
        t = (tol - (emb or 0)) if tol else None
        assert t is None or t > 0  # fixture keeps the oracle in-range
        out = pd.merge_asof(
            out, f.sort_values("ts", kind="mergesort"),
            on="ts", by="image_id", direction="backward",
            allow_exact_matches=allow_exact,
            tolerance=pd.Timedelta(seconds=t) if t else None,
        )
    return out.sort_values(["image_id", "ts", "x"]).reset_index(drop=True)


def test_matrix_embargo_matches_shifted_oracle(spark, dfs):
    sdf, adf, bdf, sp, ap, bp = dfs
    out = point_in_time_matrix(
        sdf, {"fa": adf, "fb": bdf}, entity="image_id", ts="ts",
        embargo_s={"fa": 100_000.0},
    ).toPandas()
    exp = _oracle_embargo(sp, ap, bp, emb_a=100_000)
    pd.testing.assert_frame_equal(_norm(out), exp, check_dtype=False)


@pytest.mark.parametrize("allow_exact", [True, False])
def test_matrix_embargo_boundary(spark, allow_exact):
    """A spine row exactly embargo seconds after the feature row sits ON
    the shifted boundary: included iff allow_exact_matches."""
    base = pd.Timestamp("2025-03-01")
    sdf = spark.createDataFrame(pd.DataFrame(
        {"image_id": ["a"], "ts": [base + pd.Timedelta(seconds=60)],
         "x": [1.0]}))
    fdf = spark.createDataFrame(pd.DataFrame(
        {"image_id": ["a"], "ts": [base], "fv": [7.0]}))
    out = point_in_time_matrix(
        sdf, {"f": fdf}, entity="image_id", ts="ts",
        embargo_s=60.0, allow_exact_matches=allow_exact,
    ).toPandas()
    if allow_exact:
        assert out["fv"].tolist() == [7.0]
    else:
        assert pd.isna(out["fv"]).all()


def test_matrix_embargo_asof_ts_matches_oracle(spark, dfs):
    """Mixed embargos + a true-staleness tolerance + the audit column:
    ``<name>_asof_ts`` keeps the feature's event time, not the shifted
    sort key."""
    sdf, adf, bdf, sp, ap, bp = dfs
    out = point_in_time_matrix(
        sdf, {"fa": adf, "fb": bdf}, entity="image_id", ts="ts",
        keep_feature_ts=True, embargo_s={"fa": 100_000.0, "fb": 33_333.5},
        tolerance_s={"fa": 200_000.0})
    exp = _oracle_embargo(sp, ap, bp, emb_a=100_000, emb_b=33_333.5,
                          tol_a=200_000, keep_ts=True)
    pd.testing.assert_frame_equal(_norm(out.toPandas()), exp, check_dtype=False)


def test_matrix_embargo_auditable_min_staleness(spark, dfs):
    """With an embargo, every matched feature is at least embargo seconds
    stale — leakage_audit's min_staleness_us exposes the invariant."""
    from profet_spark.operators.feature_matrix import leakage_audit

    sdf, adf, bdf, *_ = dfs
    emb = 50_000.0
    m = point_in_time_matrix(
        sdf, {"fa": adf, "fb": bdf}, entity="image_id", ts="ts",
        embargo_s=emb, keep_feature_ts=True)
    audit = leakage_audit(m).toPandas().set_index("feature")
    for f in ("fa", "fb"):
        assert audit.loc[f, "n_violations"] == 0
        if audit.loc[f, "n_matched"] > 0:
            assert audit.loc[f, "min_staleness_us"] >= emb * 1_000_000


def test_matrix_embargo_plan_stays_fused(spark, dfs):
    """Mixed per-table embargos must not break the one-Exchange
    one-WindowExec fused plan (the sort-key shift is a projection)."""
    import re

    sdf, adf, bdf, *_ = dfs
    out = point_in_time_matrix(
        sdf, {"fa": adf, "fb": bdf}, entity="image_id", ts="ts",
        embargo_s={"fa": 3600.0})
    plan = formatted_plan(out)
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert is_python_free(out)
    with pytest.raises(ValueError):
        point_in_time_matrix(sdf, {"fa": adf}, entity="image_id", ts="ts",
                             embargo_s=-5.0)


def test_matrix_tolerance_narrower_than_embargo_never_matches(spark, dfs):
    """Every embargo-visible row is >= embargo stale, so a true-staleness
    tolerance below the embargo can match nothing."""
    sdf, adf, *_ = dfs
    out = point_in_time_matrix(
        sdf, {"fa": adf}, entity="image_id", ts="ts",
        embargo_s=100_000.0, tolerance_s=50_000.0)
    assert out.where(F.col("fa_val").isNotNull()).count() == 0


def _wagg_oracle(sp, fp, window_s, allow_exact=True):
    rows = []
    for _, r in sp.iterrows():
        f = fp[fp.image_id == r.image_id]
        lo = r.ts - pd.Timedelta(seconds=window_s)
        if allow_exact:
            m = f[(f.ts > lo) & (f.ts <= r.ts)]
        else:
            m = f[(f.ts >= lo) & (f.ts < r.ts)]
        rows.append({
            "image_id": r.image_id, "ts": r.ts, "x": r.x,
            "n_fa": int(m["fa_val"].notna().sum()),
            "sum_n": m["fa_n"].sum() if len(m) else None,
            "max_fa": m["fa_val"].max() if len(m) else None,
        })
    out = pd.DataFrame(rows)
    out["sum_n"] = out["sum_n"].astype("float64")
    return out.sort_values(["image_id", "ts", "x"]).reset_index(drop=True)


@pytest.mark.parametrize("allow_exact", [True, False])
def test_windowed_spine_agg_matches_oracle(spark, dfs, allow_exact):
    from profet_spark.operators.feature_matrix import windowed_spine_agg

    sdf, adf, _, sp, ap, _ = dfs
    out = windowed_spine_agg(
        sdf, adf,
        {"n_fa": ("count", "fa_val"), "sum_n": ("sum", "fa_n"),
         "max_fa": ("max", "fa_val")},
        entity="image_id", ts="ts", window_s=100_000.0,
        allow_exact_matches=allow_exact,
    ).toPandas()
    exp = _wagg_oracle(sp, ap, 100_000.0, allow_exact=allow_exact)
    got = _norm(out)
    got["sum_n"] = got["sum_n"].astype("float64")
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_windowed_spine_agg_boundaries(spark):
    """Window edges: ts-w is OUT, ts is IN for allow_exact=True; mirrored
    for False. Several feature rows at one ts all aggregate (unlike the
    as-of attach)."""
    from profet_spark.operators.feature_matrix import windowed_spine_agg

    base = pd.Timestamp("2025-04-01")
    sdf = spark.createDataFrame(pd.DataFrame(
        {"image_id": ["a"], "ts": [base + pd.Timedelta(seconds=100)],
         "x": [0.0]}))
    fdf = spark.createDataFrame(pd.DataFrame({
        "image_id": ["a"] * 4,
        "ts": [base, base + pd.Timedelta(seconds=40),
               base + pd.Timedelta(seconds=40),
               base + pd.Timedelta(seconds=100)],
        "v": [1.0, 2.0, 3.0, 4.0]}))
    inc = windowed_spine_agg(
        sdf, fdf, {"n": ("count", "v"), "s": ("sum", "v")},
        entity="image_id", ts="ts", window_s=100.0).toPandas()
    # (ts-100, ts]: excludes the base row, includes both 40s rows + the
    # exact-ts row
    assert inc["n"].tolist() == [3] and inc["s"].tolist() == [9.0]
    exc = windowed_spine_agg(
        sdf, fdf, {"n": ("count", "v"), "s": ("sum", "v")},
        entity="image_id", ts="ts", window_s=100.0,
        allow_exact_matches=False).toPandas()
    # [ts-100, ts): includes the base row, excludes the exact-ts row
    assert exc["n"].tolist() == [3] and exc["s"].tolist() == [6.0]


def test_windowed_spine_agg_plan_and_validation(spark, dfs):
    import re

    from profet_spark.operators.feature_matrix import windowed_spine_agg

    sdf, adf, *_ = dfs
    out = windowed_spine_agg(
        sdf, adf,
        {"n_fa": ("count", "fa_val"), "sum_n": ("sum", "fa_n"),
         "max_fa": ("max", "fa_val"), "min_fa": ("min", "fa_val"),
         "avg_n": ("avg", "fa_n")},
        entity="image_id", ts="ts", window_s=50_000.0)
    plan = formatted_plan(out)
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert is_python_free(out)
    with pytest.raises(ValueError, match="unknown agg"):
        windowed_spine_agg(sdf, adf, {"n": ("median", "fa_val")},
                           entity="image_id", ts="ts")
    with pytest.raises(ValueError, match="not in the feature table"):
        windowed_spine_agg(sdf, adf, {"n": ("count", "nope")},
                           entity="image_id", ts="ts")
    with pytest.raises(ValueError, match="collides"):
        windowed_spine_agg(sdf, adf, {"x": ("count", "fa_val")},
                           entity="image_id", ts="ts")
    with pytest.raises(ValueError, match="window_s"):
        windowed_spine_agg(sdf, adf, {"n": ("count", "fa_val")},
                           entity="image_id", ts="ts", window_s=0)
    with pytest.raises(ValueError, match="no aggregates"):
        windowed_spine_agg(sdf, adf, {}, entity="image_id", ts="ts")
    # internal scratch names raise like the out_col guard instead of
    # being silently overwritten
    for bad in ("__fm_side", "__wagg_us", "__wf_fa_val"):
        with pytest.raises(ValueError, match="internal scratch"):
            windowed_spine_agg(sdf.withColumn(bad, F.lit(1)), adf,
                               {"n": ("count", "fa_val")},
                               entity="image_id", ts="ts")
    with pytest.raises(ValueError, match="internal scratch"):
        windowed_spine_agg(sdf, adf.withColumn("__wagg_us", F.lit(1)),
                           {"n": ("count", "fa_val")},
                           entity="image_id", ts="ts")


# ---------------------------------------------------------------- FM4 drift


def _drift_fixture(seed=7):
    rng = np.random.default_rng(seed)
    n = 600
    ref = pd.DataFrame({
        "a": rng.normal(10.0, 3.0, n),
        "b": rng.exponential(2.0, n),
    })
    cur = pd.DataFrame({
        "a": rng.normal(12.5, 4.0, n),          # shifted → drift
        "b": rng.exponential(2.1, n) + 50.0,    # mostly out of ref range
    })
    ref.loc[rng.choice(n, 25, replace=False), "a"] = np.nan
    cur.loc[rng.choice(n, 40, replace=False), "b"] = np.nan
    return ref, cur


def _np_drift(ref, cur, feats, n_bins):
    """Independent numpy recompute of feature_drift (same binning rule)."""
    rows = {}
    for f in feats:
        r = ref[f].dropna().to_numpy(float)
        c = cur[f].dropna().to_numpy(float)
        lo, hi = r.min(), r.max()

        def binify(v):
            if hi == lo:
                return np.ones(len(v), dtype=np.int64)
            q = ((v - lo) * float(n_bins)) / (hi - lo)
            qc = np.minimum(np.maximum(q, 0.0), float(n_bins - 1))
            return 1 + np.floor(qc).astype(np.int64)

        nr = np.bincount(binify(r), minlength=n_bins + 1)[1:]
        nc = np.bincount(binify(c), minlength=n_bins + 1)[1:]
        pr = nr / nr.sum() if nr.sum() else np.full(n_bins, np.nan)
        pc = nc / nc.sum() if nc.sum() else np.full(n_bins, np.nan)
        sr = (nr + 0.5) / (nr.sum() + 0.5 * n_bins)
        sc = (nc + 0.5) / (nc.sum() + 0.5 * n_bins)
        psi = (sc - sr) * np.log(sc / sr)
        rows[f] = (nr, nc, pr, pc, psi)
    return rows


def test_feature_drift_matches_numpy(spark):
    from profet_spark.operators.feature_matrix import feature_drift

    ref, cur = _drift_fixture()
    n_bins = 7
    out = feature_drift(spark.createDataFrame(ref), spark.createDataFrame(cur),
                        ["a", "b"], n_bins=n_bins).toPandas()
    exp = _np_drift(ref, cur, ["a", "b"], n_bins)
    assert len(out) == 2 * n_bins
    for f in ("a", "b"):
        got = out[out.feature == f].sort_values("bin").reset_index(drop=True)
        nr, nc, pr, pc, psi = exp[f]
        assert (got.n_ref.to_numpy() == nr).all()
        assert (got.n_cur.to_numpy() == nc).all()
        np.testing.assert_array_equal(got.p_ref.to_numpy(float), pr)
        np.testing.assert_array_equal(got.p_cur.to_numpy(float), pc)
        np.testing.assert_allclose(got.psi_term.to_numpy(float), psi,
                                   rtol=1e-12)
        # PSI of the planted mean shift must scream
        if f == "a":
            assert got.psi_term.sum() > 0.1
    # out-of-range current values clamp into the edge bins, none lost
    b = out[out.feature == "b"]
    assert b.n_cur.sum() == cur["b"].notna().sum()
    assert b[b.bin == n_bins].n_cur.iloc[0] > 0


def test_feature_drift_constant_and_empty_ref(spark):
    from profet_spark.operators.feature_matrix import feature_drift

    ref = pd.DataFrame({"k": [5.0] * 20, "gone": [np.nan] * 20})
    cur = pd.DataFrame({"k": [5.0, 7.0, 3.0], "gone": [1.0, 2.0, 3.0]})
    out = feature_drift(spark.createDataFrame(ref), spark.createDataFrame(cur),
                        ["k", "gone"], n_bins=4).toPandas()
    # 'gone' has an empty reference slice → no baseline → dropped
    assert set(out.feature) == {"k"}
    k = out.sort_values("bin")
    # constant reference: everything (both sides) lands in bin 1
    assert k.n_ref.tolist() == [20, 0, 0, 0]
    assert k.n_cur.tolist() == [3, 0, 0, 0]
    assert k.p_ref.tolist()[0] == 1.0


def test_feature_drift_validation_and_plan(spark):
    from profet_spark.operators.feature_matrix import feature_drift

    ref, cur = _drift_fixture()
    rdf, cdf = spark.createDataFrame(ref), spark.createDataFrame(cur)
    with pytest.raises(ValueError, match="n_bins"):
        feature_drift(rdf, cdf, ["a"], n_bins=0)
    with pytest.raises(ValueError, match="no features"):
        feature_drift(rdf, cdf, [])
    with pytest.raises(ValueError, match="not in the cur"):
        feature_drift(rdf, cdf.drop("b"), ["a", "b"])
    d = feature_drift(rdf, cdf, ["a", "b"], n_bins=5)
    assert is_python_free(d)
    plan = formatted_plan(d)
    # the edge table and bin spine ride broadcast; the only wide shuffle
    # is the O(features × bins) hash aggregate
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------- FM5 CV


def _cv_fixture(seed=13, n=400):
    rng = np.random.default_rng(seed)
    ts = pd.Timestamp("2025-03-01") + pd.to_timedelta(
        rng.integers(0, 40 * 86400, n), unit="s")
    return pd.DataFrame({
        "image_id": [f"e{int(i):03d}" for i in rng.integers(0, 25, n)],
        "ts": ts, "y": rng.normal(n)})


def _np_fold(us, lo, hi, n_folds, shift=0):
    span = hi - lo + 1
    pos = np.maximum(us + shift, lo) - lo
    return np.minimum(n_folds - 1, (pos * n_folds) // span)


@pytest.mark.parametrize("n_folds,val_fold,emb_s,pur_s", [
    (5, 2, 86400.0, 43200.0),
    (5, 0, 3600.0, 0.0),
    (4, 3, 0.0, 7200.0),
    (3, 1, 0.0, 20 * 86400.0),   # purge horizon wider than a whole fold
])
def test_purged_cv_roles_brute_force(spark, n_folds, val_fold, emb_s, pur_s):
    from profet_spark.operators.feature_matrix import purged_cv_roles

    pdf = _cv_fixture()
    out = purged_cv_roles(spark.createDataFrame(pdf), ts="ts",
                          n_folds=n_folds, val_fold=val_fold,
                          embargo_s=emb_s, purge_s=pur_s
                          ).toPandas().sort_values(["ts", "image_id"])
    us = pdf.sort_values(["ts", "image_id"]).ts.astype("int64").to_numpy() // 1000
    lo, hi = us.min(), us.max()
    fold = _np_fold(us, lo, hi, n_folds)
    fp = _np_fold(us, lo, hi, n_folds, shift=int(pur_s * 1e6))
    fe = _np_fold(us, lo, hi, n_folds, shift=-int(emb_s * 1e6))
    role = np.where(
        fold == val_fold, "val",
        np.where(((fold < val_fold) & (fp >= val_fold)) |
                 ((fold > val_fold) & (fe <= val_fold)), "purged", "train"))
    assert (out.fold.to_numpy() == fold).all()
    assert (out.cv_role.to_numpy() == role).all()
    # independent interval-overlap invariant: no train row's label window
    # [us, us+purge] or feature window [us-embargo, us] touches the
    # validation slice {t : fold(t) == k}
    span = hi - lo + 1
    val_start = lo + -(-val_fold * span // n_folds)            # ceil div
    val_end = lo + -(-(val_fold + 1) * span // n_folds) - 1
    tr = us[role == "train"]
    before = tr[fold[role == "train"] < val_fold]
    after = tr[fold[role == "train"] > val_fold]
    assert (before + int(pur_s * 1e6) < val_start).all()
    assert (after - int(emb_s * 1e6) > val_end).all()


def test_assign_time_folds_bounds_and_edges(spark):
    from profet_spark.operators.feature_matrix import assign_time_folds

    pdf = _cv_fixture(seed=3, n=100)
    sdf = spark.createDataFrame(pdf)
    # explicit bounds: stateless projection — no Exchange anywhere
    f = assign_time_folds(sdf, ts="ts", n_folds=4,
                          bounds=("2025-03-05 00:00:00", "2025-03-20 00:00:00"))
    assert "Exchange" not in formatted_plan(f)
    got = f.toPandas()
    lo = pd.Timestamp("2025-03-05").value // 1000
    hi = pd.Timestamp("2025-03-20").value // 1000
    us = got.ts.astype("int64").to_numpy() // 1000
    np.testing.assert_array_equal(got.fold.to_numpy(),
                                  _np_fold(us, lo, hi, 4))
    # rows outside the bounds clamp into the edge folds
    assert got[got.ts < "2025-03-05"].fold.eq(0).all()
    assert got[got.ts >= "2025-03-20"].fold.eq(3).all()
    # degenerate: one distinct timestamp → everything fold 0
    one = spark.createDataFrame(pdf.assign(ts=pd.Timestamp("2025-03-01")))
    assert assign_time_folds(one, n_folds=5).toPandas().fold.eq(0).all()


def test_purged_cv_validation(spark):
    from profet_spark.operators.feature_matrix import (assign_time_folds,
                                                       purged_cv_roles)

    sdf = spark.createDataFrame(_cv_fixture(seed=5, n=50))
    with pytest.raises(ValueError, match="val_fold"):
        purged_cv_roles(sdf, n_folds=3, val_fold=3)
    with pytest.raises(ValueError, match="embargo_s"):
        purged_cv_roles(sdf, val_fold=1, embargo_s=-1.0)
    with pytest.raises(ValueError, match="already exists"):
        purged_cv_roles(sdf.withColumn("fold", F.lit(1)), val_fold=0)
    with pytest.raises(ValueError, match="already exists"):
        assign_time_folds(sdf.withColumn("fold", F.lit(1)))
    with pytest.raises(ValueError, match="n_folds"):
        assign_time_folds(sdf, n_folds=0)


def test_walk_forward_roles_and_psi_summary(spark):
    from profet_spark.operators.feature_matrix import (feature_drift,
                                                       psi_summary,
                                                       purged_cv_roles)

    pdf = _cv_fixture(seed=41)
    out = purged_cv_roles(spark.createDataFrame(pdf), ts="ts", n_folds=5,
                          val_fold=2, embargo_s=86400.0, purge_s=43200.0,
                          scheme="walk_forward"
                          ).toPandas().sort_values(["ts", "image_id"])
    us = pdf.sort_values(["ts", "image_id"]).ts.astype("int64").to_numpy() // 1000
    lo, hi = us.min(), us.max()
    fold = _np_fold(us, lo, hi, 5)
    fp = _np_fold(us, lo, hi, 5, shift=43_200_000_000)
    fe = _np_fold(us, lo, hi, 5, shift=-86_400_000_000)
    role = np.where(fold == 2, "val",
            np.where(((fold < 2) & (fp >= 2)) | ((fold > 2) & (fe <= 2)),
                     "purged",
                     np.where(fold > 2, "future", "train")))
    assert (out.cv_role.to_numpy() == role).all()
    # walk-forward trains strictly on the past
    assert (fold[out.cv_role.to_numpy() == "train"] < 2).all()
    with pytest.raises(ValueError, match="scheme"):
        purged_cv_roles(spark.createDataFrame(pdf), scheme="bogus")

    # PSI rollup: sum of per-bin terms, thresholded
    ref, cur = _drift_fixture()
    d = feature_drift(spark.createDataFrame(ref), spark.createDataFrame(cur),
                      ["a", "b"], n_bins=7)
    s = psi_summary(d, threshold=0.1).toPandas().set_index("feature")
    exp = _np_drift(ref, cur, ["a", "b"], 7)
    for f in ("a", "b"):
        np.testing.assert_allclose(s.loc[f, "psi"], exp[f][4].sum(),
                                   rtol=1e-12)
    assert bool(s.loc["b", "drifted"])  # the planted +50 shift screams


def test_entity_folds_grouped_and_portable(spark):
    from profet_spark.operators.feature_matrix import assign_entity_folds

    pdf = _cv_fixture(seed=47)
    out = assign_entity_folds(spark.createDataFrame(pdf),
                              entity="image_id", n_folds=4).toPandas()
    # grouped: every row of an entity shares one fold
    assert (out.groupby("image_id").fold.nunique() == 1).all()
    # all folds in range and populated (25 entities over 4 folds)
    assert set(out.fold) <= {0, 1, 2, 3}
    assert out.fold.nunique() > 1
    # brute-force portable recompute (md5-derived h32, as hashing.py)
    import hashlib
    exp = out.image_id.map(lambda e: int(hashlib.md5(
        f"cv:{e}".encode()).hexdigest()[:8], 16) % 4)
    assert (out.fold == exp).all()
    with pytest.raises(ValueError, match="n_folds"):
        assign_entity_folds(spark.createDataFrame(pdf), n_folds=0)
    with pytest.raises(Exception, match="NULL"):
        assign_entity_folds(
            spark.createDataFrame(pdf).withColumn(
                "image_id", F.when(F.col("y") > 0, None)
                .otherwise(F.col("image_id"))),
            entity="image_id").collect()
