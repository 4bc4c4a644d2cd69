"""Hypothesis property tests for the cross-engine bitwise claims of the
exact-arithmetic operators (SURVEY.md §5.2): the FM5 fold grid and the
FM4 drift binning promise Spark == DuckDB bit-for-bit BY CONSTRUCTION
(clamped-numerator integer division; identical IEEE expression text).
These tests attack those claims with adversarial randomized inputs —
degenerate spans, boundary timestamps, shifts wider than the span,
denormal-ish doubles, constant features — comparing against DuckDB
directly, not against a reimplementation."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst

from profet_spark.operators.feature_matrix import (feature_drift,
                                                   purged_cv_roles)


@hst.composite
def cv_case(draw):
    n = draw(hst.integers(2, 40))
    # microsecond offsets: tiny spans (0, 1) through multi-day, with
    # clustering on exact boundaries
    span_pool = draw(hst.sampled_from([1, 7, 1000, 86_400_000_000]))
    offs = [draw(hst.integers(0, span_pool)) for _ in range(n)]
    n_folds = draw(hst.integers(1, 7))
    val_fold = draw(hst.integers(0, n_folds - 1))
    emb = draw(hst.sampled_from([0.0, 0.000001, 1.0, 3600.0, 10 * 86400.0]))
    pur = draw(hst.sampled_from([0.0, 0.000001, 0.5, 7200.0, 20 * 86400.0]))
    return offs, n_folds, val_fold, emb, pur


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(cv_case())
def test_fold_grid_matches_duckdb_bitwise(spark, case):
    offs, n_folds, val_fold, emb, pur = case
    base = pd.Timestamp("2024-06-01")
    pdf = pd.DataFrame({
        "event_id": np.arange(len(offs), dtype=np.int64),
        "ts": [base + pd.Timedelta(microseconds=o) for o in offs],
    })
    got = (purged_cv_roles(spark.createDataFrame(pdf), ts="ts",
                           n_folds=n_folds, val_fold=val_fold,
                           embargo_s=emb, purge_s=pur)
           .toPandas().sort_values("event_id").reset_index(drop=True))
    emb_us, pur_us = int(round(emb * 1e6)), int(round(pur * 1e6))
    fold = lambda shift: (  # noqa: E731
        f"least(CAST({n_folds - 1} AS BIGINT), "
        f"(greatest(us + CAST({shift} AS BIGINT), lo) - lo) * {n_folds} "
        f"// (hi - lo + 1))")
    want = duckdb.connect().execute(f"""
        WITH b AS (SELECT min(epoch_us(ts)) lo, max(epoch_us(ts)) hi
                   FROM pdf),
        r AS (SELECT event_id, epoch_us(ts) us, lo, hi FROM pdf, b),
        f AS (SELECT event_id, {fold(0)} AS fold, {fold(pur_us)} AS fp,
                     {fold(-emb_us)} AS fe
              FROM r)
        SELECT event_id, fold,
               CASE WHEN fold = {val_fold} THEN 'val'
                    WHEN fold < {val_fold} AND fp >= {val_fold}
                      THEN 'purged'
                    WHEN fold > {val_fold} AND fe <= {val_fold}
                      THEN 'purged'
                    ELSE 'train' END AS cv_role
        FROM f ORDER BY event_id
    """).df()
    assert got.fold.tolist() == want.fold.tolist()
    assert got.cv_role.tolist() == want.cv_role.tolist()


@hst.composite
def drift_case(draw):
    n_ref = draw(hst.integers(1, 30))
    n_cur = draw(hst.integers(0, 30))
    # adversarial doubles: huge magnitude spread, negatives, near-ties,
    # exact-boundary repeats; occasionally a constant feature
    pool = [0.0, -0.0, 1.0, -1.0, 1e-300, -1e-300, 1e300, 0.1, 0.2, 0.3,
            1 / 3, 2 / 3, np.pi, -np.e, 1e6 + 0.5, 1e6 - 0.5]
    const = draw(hst.booleans())
    ref = [pool[0] if const else draw(hst.sampled_from(pool))
           for _ in range(n_ref)]
    cur = [draw(hst.sampled_from(pool)) for _ in range(n_cur)]
    n_bins = draw(hst.integers(1, 12))
    return ref, cur, n_bins


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(drift_case())
def test_drift_bins_match_duckdb_bitwise(spark, case):
    ref_v, cur_v, n_bins = case
    ref = pd.DataFrame({"v": ref_v})
    cur = pd.DataFrame({"v": cur_v}) if cur_v else \
        pd.DataFrame({"v": pd.array([], dtype="float64")})
    got = (feature_drift(spark.createDataFrame(ref, schema="v double"),
                         spark.createDataFrame(cur, schema="v double"),
                         ["v"], n_bins=n_bins)
           .select("bin", "n_ref", "n_cur", "p_ref", "p_cur")
           .toPandas().sort_values("bin").reset_index(drop=True))
    want = duckdb.connect().execute(f"""
        WITH pairs AS (
          SELECT 0 AS side, v FROM ref WHERE v IS NOT NULL
          UNION ALL SELECT 1, v FROM cur WHERE v IS NOT NULL),
        edges AS (SELECT min(v) lo, max(v) hi FROM pairs WHERE side = 0),
        binned AS (
          SELECT side,
                 CASE WHEN e.hi = e.lo THEN CAST(1 AS BIGINT)
                      ELSE 1 + CAST(floor(least(greatest(
                               ((p.v - e.lo) * {float(n_bins)!r}) / (e.hi - e.lo),
                               0.0), {float(n_bins - 1)!r})) AS BIGINT)
                 END AS bin
          FROM pairs p, edges e),
        counts AS (
          SELECT bin,
                 CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) n_ref,
                 CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) n_cur
          FROM binned GROUP BY 1),
        spine AS (SELECT unnest(range(1, {n_bins + 1})) AS bin),
        hist AS (
          SELECT s.bin, coalesce(c.n_ref, 0) n_ref, coalesce(c.n_cur, 0) n_cur
          FROM spine s LEFT JOIN counts c USING (bin)),
        tot AS (SELECT CAST(sum(n_ref) AS BIGINT) tr,
                       CAST(sum(n_cur) AS BIGINT) tc FROM hist)
        SELECT bin, n_ref, n_cur,
               CASE WHEN tr > 0 THEN CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE) END p_ref,
               CASE WHEN tc > 0 THEN CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE) END p_cur
        FROM hist, tot ORDER BY bin
    """).df()
    assert got.bin.tolist() == want.bin.tolist()
    assert got.n_ref.tolist() == want.n_ref.tolist()
    assert got.n_cur.tolist() == want.n_cur.tolist()
    # proportions bitwise: exact-int division only
    np.testing.assert_array_equal(got.p_ref.to_numpy(float),
                                  want.p_ref.to_numpy(float))
    np.testing.assert_array_equal(got.p_cur.to_numpy(float),
                                  want.p_cur.to_numpy(float))


@hst.composite
def te_case(draw):
    n = draw(hst.integers(1, 35))
    cats = ["a", "b", "c"]
    # heavy timestamp ties within categories + NULL labels
    ts_pool = [pd.Timestamp("2025-02-01") + pd.Timedelta(minutes=m)
               for m in range(6)]
    rows = [{
        "event_id": i,
        "cat": draw(hst.sampled_from(cats)),
        "ts": draw(hst.sampled_from(ts_pool)),
        "y": draw(hst.sampled_from(
            [None, 0.0, 1.25, -3.5, 100.07, 0.333333, 1e6 - 0.25])),
    } for i in range(n)]
    m = draw(hst.sampled_from([0.0, 1.0, 12.5]))
    prior = draw(hst.sampled_from([0.0, 50.0, -2.25]))
    return pd.DataFrame(rows), m, prior


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(te_case())
def test_target_encode_matches_duckdb_bitwise(spark, case):
    from profet_spark.operators.encoding import time_aware_target_encode

    pdf, m, prior = case
    got = (time_aware_target_encode(
        spark.createDataFrame(pdf, schema="event_id long, cat string, "
                                          "ts timestamp_ntz, y double"),
        "cat", "y", ts="ts", tiebreak=["event_id"], smoothing=m,
        prior=prior, out_col="te")
        .toPandas().sort_values("event_id").reset_index(drop=True))
    want = duckdb.connect().execute(f"""
        WITH w AS (
          SELECT event_id,
                 count(CAST(y AS DECIMAL(18,6))) OVER win AS n_prev,
                 CAST(sum(CAST(y AS DECIMAL(18,6))) OVER win AS DOUBLE)
                   AS s_prev
          FROM pdf
          WINDOW win AS (PARTITION BY cat ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        SELECT event_id,
               CASE WHEN CAST(n_prev AS DOUBLE) + {m!r} > 0 THEN
                 (coalesce(s_prev, 0.0) + {m!r} * {prior!r})
                   / (CAST(n_prev AS DOUBLE) + {m!r}) END AS te
        FROM w ORDER BY event_id
    """).df()
    np.testing.assert_array_equal(got.te.to_numpy(float),
                                  want.te.to_numpy(float))


@hst.composite
def ring_case(draw):
    n = draw(hst.integers(1, 40))
    # adversarial ids: unicode, SQL-ish metacharacters, near-duplicates
    pool = [f"d{i}" for i in range(50)] + ["", "a'b", "Ω≈ç", "x|y", "0", "00"]
    ids = list({draw(hst.sampled_from(pool)) for _ in range(n)})
    k = draw(hst.integers(1, 4))
    n_buckets = draw(hst.sampled_from([1, 2, 16, 64]))
    return ids, k, n_buckets


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ring_case())
def test_hash_ring_negatives_match_duckdb_bitwise(spark, case):
    from profet_spark.operators.corpus import hash_ring_negatives

    ids, k, n_buckets = case
    pdf = pd.DataFrame({"doc_id": ids})
    got = (hash_ring_negatives(
        spark.createDataFrame(pdf, schema="doc_id string"), "doc_id",
        k=k, n_buckets=n_buckets)
        .toPandas().sort_values(["doc_id", "r"]).reset_index(drop=True))
    h = ("CAST(('0x' || substr(md5('neg:' || CAST(r AS VARCHAR) || ':' "
         "|| CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)")
    want = duckdb.connect().execute(f"""
        WITH rep AS (
          SELECT doc_id, r
          FROM pdf, (SELECT unnest(range(1, {k + 1})) AS r) _r),
        b AS (SELECT doc_id, r, {h} AS h, {h} % {n_buckets} AS bucket
              FROM rep),
        s AS (SELECT doc_id, r,
                     coalesce(lead(doc_id) OVER w, first_value(doc_id) OVER w)
                       AS neg
              FROM b
              WINDOW w AS (PARTITION BY r, bucket ORDER BY h, doc_id))
        SELECT doc_id, r,
               CASE WHEN neg = doc_id THEN NULL ELSE neg END AS neg_id
        FROM s ORDER BY doc_id, r
    """).df()
    assert got.doc_id.tolist() == want.doc_id.tolist()
    assert got.r.tolist() == want.r.tolist()
    assert [x if pd.notna(x) else None for x in got.neg_id] == \
        [x if pd.notna(x) else None for x in want.neg_id]


# --------------------------------------------------------------- text ops

# adversarial text alphabet: every ASCII whitespace (incl. the \x0B that
# Java's \s contains but RE2's does not), unicode spaces (in neither
# engine's class), PII-ish punctuation, letters/digits
_TEXT_ALPHABET = list("ab1 .-+@()%_") + ["\t", "\n", "\x0b", "\f", "\r",
                                         "\xa0", " ", "é"]


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(hst.lists(hst.text(alphabet=_TEXT_ALPHABET, max_size=40),
                 min_size=1, max_size=8))
def test_tokenizer_and_normalizer_match_duckdb_bitwise(spark, texts):
    """words()/TOKEN_RE/normalized() promise Spark == DuckDB on ALL
    inputs (the WS_RE explicit-class construction, hashing.py) — attack
    with every whitespace variant the engines' \\s classes disagree on."""
    import importlib.util

    from profet_spark.functions import hashing as H
    from profet_spark.functions import textstats as ts
    from profet_spark.operators.dedup import normalized

    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "entry_mod", Path(__file__).resolve().parents[1] / "__spark_entry__.py")
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    pdf = pd.DataFrame({"i": range(len(texts)), "t": texts})
    sdf = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F
    got = (sdf.select(
        "i", H.words("t").alias("w"), normalized("t").alias("nrm"),
        F.size(F.regexp_extract_all(F.lower(F.coalesce("t", F.lit(""))),
                                    F.lit(ts.TOKEN_RE), 0)).alias("bpe"))
        .orderBy("i").collect())
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(f"""
        SELECT i, {entry._DUCK_WORDS.format(c='t')} AS w,
               {entry._DUCK_NORM_TXT.format(c='t')} AS nrm,
               len(regexp_extract_all(lower(coalesce(t, '')),
                                      '{ts.TOKEN_RE}')) AS bpe
        FROM t ORDER BY i""").fetchall()
    for g, (_, w, nrm, bpe) in zip(got, want):
        assert g["w"] == w, (g["i"], texts[g["i"]])
        assert g["nrm"] == nrm, (g["i"], texts[g["i"]])
        assert g["bpe"] == bpe, (g["i"], texts[g["i"]])


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(hst.lists(hst.text(alphabet=_TEXT_ALPHABET + list(":/356"),
                          max_size=60),
                 min_size=1, max_size=6))
def test_scrub_pii_matches_duckdb_bitwise_fuzz(spark, texts):
    """T6's Java≡RE2 pattern-subset claim under adversarial text: masked
    output and every mask count must agree bitwise."""
    from profet_spark.functions import textstats as ts

    pdf = pd.DataFrame({"i": range(len(texts)), "text": texts})
    got = (ts.scrub_pii(spark.createDataFrame(pdf), "text")
           .orderBy("i").toPandas())
    con = duckdb.connect()
    con.register("t", pdf)
    expr, counts = ts.scrub_pii_sql_duckdb("text")
    want = con.execute(
        f"SELECT i, {expr} AS text_scrubbed, {', '.join(counts)} "
        f"FROM t ORDER BY i").df()
    for c in ("text_scrubbed", "n_pii_email", "n_pii_ssn", "n_pii_ipv4",
              "n_pii_phone"):
        assert got[c].tolist() == want[c].tolist(), c
