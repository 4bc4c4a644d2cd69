"""The ``python -m profet_spark`` job runner (spark-submit job shape).

Each named pipeline must build and execute end-to-end over the standard
table layout, and ``--output`` must land readable parquet. The session
is injected (``_spark``) so the CLI never stops the shared fixture."""

import os

import pytest

from profet_spark import fixtures
from profet_spark.__main__ import PIPELINES, _build, main

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")


def test_cli_help_lists_pipelines(capsys):
    with pytest.raises(SystemExit) as e:
        main(["--help"])
    assert e.value.code == 0
    out = capsys.readouterr().out
    for p in PIPELINES:
        assert p in out


def test_cli_unknown_pipeline_rejected():
    with pytest.raises(SystemExit):
        main(["--pipeline", "nope", "--input", SF])


def test_cli_text_pipelines_over_testdata(spark, tmp_path):
    out_dir = str(tmp_path / "feats")
    rc = main(["--pipeline", "caption_features", "--input", SF,
               "--output", out_dir], _spark=spark)
    assert rc == 0
    back = spark.read.parquet(out_dir)
    assert "features" in back.columns and back.count() > 0

    for p in ("curate", "quality"):  # noop dry-run path
        assert main(["--pipeline", p, "--input", SF], _spark=spark) == 0


def test_cli_image_pipeline(spark, tmp_path):
    pdf = fixtures.make_fixture(n_entities=30, img_sizes=(16,))
    root = tmp_path / "root"
    root.mkdir()
    fixtures.stage_parquet(spark, pdf, str(root / "images.parquet"))
    out_dir = str(tmp_path / "imgfeats")
    rc = main(["--pipeline", "image_features", "--input", str(root),
               "--output", out_dir], _spark=spark)
    assert rc == 0
    back = spark.read.parquet(out_dir)
    assert {"phash_check", "decode_ok"} <= set(back.columns)
    assert back.count() == len(pdf)
    assert back.where("NOT decode_ok").count() < len(pdf)


def test_cli_rejects_nonpositive_shuffle_partitions(spark):
    with pytest.raises(SystemExit):
        main(["--pipeline", "quality", "--input", SF,
              "--shuffle-partitions", "0"], _spark=spark)


def test_package_version_matches_distribution_metadata():
    import profet_spark
    import re
    toml = open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "..", "pyproject.toml")).read()
    m = re.search(r'^version = "([^"]+)"', toml, re.M)
    assert m and m.group(1) == profet_spark.__version__


def test_cli_ingest_writes_clean_and_quarantine(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.jsonl").write_text(
        '{"doc_id": 1, "text": "hi", "lang": "en", "n_chars": 2}\n'
        "not json at all\n")
    out_dir = str(tmp_path / "clean")
    rc = main(["--pipeline", "ingest", "--input", str(landing),
               "--output", out_dir], _spark=spark)
    assert rc == 0
    clean = spark.read.parquet(out_dir)
    assert [r.doc_id for r in clean.collect()] == [1]
    assert "_corrupt_record" not in clean.columns
    quarantine = spark.read.parquet(out_dir + "_quarantine")
    assert [r.raw for r in quarantine.collect()] == ["not json at all"]
    # dry-run form also executes both halves
    assert main(["--pipeline", "ingest", "--input", str(landing)],
                _spark=spark) == 0


def test_cli_compact_store_maintenance(spark, tmp_path):
    from pyspark.sql import functions as F

    from profet_spark.sources import load_table
    from profet_spark.sources import partitioned as P

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "ts",
        F.col("value").cast("double").alias("val"))
    store = str(tmp_path / "store")
    P.write_partitioned(ev.repartition(16), store, ts_col="ts",
                        entity_col="user_id", n_buckets=2)
    before = spark.read.parquet(store).count()
    rc = main(["--pipeline", "compact", "--input", store], _spark=spark)
    assert rc == 0
    assert spark.read.parquet(store).count() == before  # content invariant


def test_cli_scrub_and_decontaminate(spark, tmp_path):
    out_dir = str(tmp_path / "scrubbed")
    rc = main(["--pipeline", "scrub", "--input", SF, "--output", out_dir],
              _spark=spark)
    assert rc == 0
    back = spark.read.parquet(out_dir)
    assert {"text_scrubbed", "n_pii_email"} <= set(back.columns)
    assert "text" not in back.columns
    assert back.count() > 0

    # split-based self-decontamination: clean train docs survive
    out2 = str(tmp_path / "clean")
    rc = main(["--pipeline", "decontaminate", "--input", SF,
               "--ngram", "3", "--output", out2], _spark=spark)
    assert rc == 0
    clean = spark.read.parquet(out2)
    assert clean.count() > 0
    assert "text" in clean.columns  # drop mode keeps original columns

    # explicit --eval-input: decontaminating against the same table keeps
    # only docs that share no 3-gram with ANY doc (subset of the above)
    rc = main(["--pipeline", "decontaminate", "--input", SF,
               "--eval-input", SF, "--ngram", "3"], _spark=spark)
    assert rc == 0


def test_cli_image_curate(spark, tmp_path):
    pdf = fixtures.make_fixture(n_entities=20, img_sizes=(16,))
    root = tmp_path / "root"
    root.mkdir()
    fixtures.stage_parquet(spark, pdf, str(root / "images.parquet"))
    out_dir = str(tmp_path / "curated")
    rc = main(["--pipeline", "image_curate", "--input", str(root),
               "--min-side", "8", "--output", out_dir], _spark=spark)
    assert rc == 0
    back = spark.read.parquet(out_dir)
    assert {"meta_ok", "pixel_ok", "keep_image", "reject_reason"} \
        <= set(back.columns)
    assert "bytes" not in back.columns
    assert back.count() == len(pdf)
    # default floor (64) rejects every 16px fixture image at the meta tier
    rc = main(["--pipeline", "image_curate", "--input", str(root)],
              _spark=spark)
    assert rc == 0


def test_cli_batch_plan(spark, tmp_path):
    pdf = fixtures.make_fixture(n_entities=40, img_sizes=(16, 32))
    root = tmp_path / "root"
    root.mkdir()
    fixtures.stage_parquet(spark, pdf, str(root / "images.parquet"))
    out_dir = str(tmp_path / "batches")
    rc = main(["--pipeline", "batch_plan", "--input", str(root),
               "--batch-size", "4", "--n-shards", "2",
               "--output", out_dir], _spark=spark)
    assert rc == 0
    back = spark.read.parquet(out_dir)
    assert {"image_id", "aspect_bucket", "shard", "batch_id",
            "batch_pos", "target_w", "target_h"} <= set(back.columns)
    assert "bytes" not in back.columns
    # drop_incomplete: every written batch has exactly --batch-size rows
    sizes = (back.groupBy("aspect_bucket", "shard", "batch_id").count()
             .select("count").distinct().collect())
    assert [r["count"] for r in sizes] == [4]


def test_cli_materialize_incremental(spark, tmp_path):
    import json

    from pyspark.sql import functions as F

    from profet_spark.functions import text_descriptors as td
    from profet_spark.sources import partitioned as P

    pdf = fixtures.make_fixture(n_entities=25, img_sizes=(16,))
    cut = pdf["ts"].quantile(0.7)
    root1, root2 = tmp_path / "r1", tmp_path / "r2"
    root1.mkdir(), root2.mkdir()
    fixtures.stage_parquet(spark, pdf[pdf["ts"] < cut],
                           str(root1 / "images.parquet"))
    fixtures.stage_parquet(spark, pdf, str(root2 / "images.parquet"))
    store = str(tmp_path / "store")

    # bootstrap over the early landing, then one incremental pass over
    # the grown snapshot table: the store must equal the full recompute
    rc = main(["--pipeline", "materialize", "--input", str(root1),
               "--output", store], _spark=spark)
    assert rc == 0
    rc = main(["--pipeline", "materialize", "--input", str(root2),
               "--output", store, "--late-days", "0.5"], _spark=spark)
    assert rc == 0
    got = spark.read.parquet(store).drop(P.DAY_COL, P.BUCKET_COL)
    full = td.add_caption_features_packed(
        spark.read.parquet(str(root2 / "images.parquet"))
        .select("image_id", "ts", "caption")).select(*got.columns)
    assert got.count() == len(pdf)
    assert got.exceptAll(full).count() == 0
    assert full.exceptAll(got).count() == 0
    # a no-growth re-run writes nothing new beyond the late window
    rc = main(["--pipeline", "materialize", "--input", str(root2),
               "--output", store], _spark=spark)
    assert rc == 0
    assert spark.read.parquet(store).count() == len(pdf)
    # the store root is mandatory
    with pytest.raises(SystemExit):
        main(["--pipeline", "materialize", "--input", str(root2)],
             _spark=spark)


def test_cli_diff(spark, tmp_path, capsys):
    import json

    from pyspark.sql import functions as F

    from profet_spark.sources import partitioned as P

    pdf = fixtures.make_fixture(n_entities=20, img_sizes=(16,))
    df = fixtures.to_spark(spark, pdf).select("image_id", "ts", "caption")
    left, right = str(tmp_path / "l"), str(tmp_path / "r")
    P.write_partitioned(df, left, ts_col="ts", entity_col="image_id",
                        n_buckets=4)
    P.write_partitioned(df, right, ts_col="ts", entity_col="image_id",
                        n_buckets=4)
    P.upsert_partitioned(
        spark, df.orderBy("image_id", "ts").limit(2)
        .withColumn("caption", F.lit("EDITED")), right)
    out = str(tmp_path / "rows")
    rc = main(["--pipeline", "diff", "--input", left, "--right", right,
               "--output", out], _spark=spark)
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.splitlines()[0])
    assert summary == {"added": 0, "removed": 0, "changed": 2,
                       "unchanged": len(pdf) - 2}
    rows = spark.read.parquet(out)
    assert rows.count() == 2
    assert {r["diff_status"] for r in rows.collect()} == {"changed"}
    with pytest.raises(SystemExit):
        main(["--pipeline", "diff", "--input", left], _spark=spark)


def test_cli_cap_per_source(spark, tmp_path):
    out_dir = str(tmp_path / "capped")
    rc = main(["--pipeline", "cap", "--input", SF, "--cap", "5",
               "--output", out_dir], _spark=spark)
    assert rc == 0
    back = spark.read.parquet(out_dir)
    assert "cap_rank" in back.columns
    per = back.groupBy("source").count().collect()
    assert per and all(r["count"] <= 5 for r in per)


def test_cli_zorder_writes_stats_tight_files(spark, tmp_path):
    """The point of L1 is WRITE-side: the landed parquet files must carry
    tight per-file min/max on BOTH clustered dimensions so a footer-level
    pruner can skip them. Read the footers back and check the spans."""
    import pyarrow.parquet as pq

    out_dir = str(tmp_path / "zordered")
    rc = main(["--pipeline", "zorder", "--input", SF, "--n-shards", "8",
               "--output", out_dir], _spark=spark)
    assert rc == 0
    back = spark.read.parquet(out_dir)
    assert {"zkey", "zbucket", "sec"} <= set(back.columns)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    assert back.count() == ev.count()
    # per-file sec stats: every multi-bucket file must span << the domain
    spans = []
    for fn in os.listdir(out_dir):
        if not fn.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(out_dir, fn))
        sec_idx = next(c for c in range(md.num_columns)
                       if md.schema.column(c).name == "sec")
        stats = [md.row_group(i).column(sec_idx).statistics
                 for i in range(md.num_row_groups)]
        spans.append(max(s.max for s in stats) - min(s.min for s in stats))
    assert spans, "no parquet files written"
    # unclustered, every file would span ~86400; z-ordered files are
    # each confined to their buckets' sec stripes
    assert min(spans) < 86400 / 2


def test_cli_semdedup(spark, tmp_path):
    """D9 pipeline: survivors land as parquet with the input schema and
    match the library composition (keep-min-id per semantic component)."""
    from profet_spark.operators import dedup
    from profet_spark.sources import load_table

    out_dir = str(tmp_path / "semdedup")
    rc = main(["--pipeline", "semdedup", "--input", SF,
               "--n-shards", "8", "--threshold", "0.3",
               "--output", out_dir], _spark=spark)
    assert rc == 0
    back = spark.read.parquet(out_dir)
    emb = load_table(spark, SF, "embeddings")
    assert back.columns == emb.columns
    want = dedup.semdedup(emb, n_centroids=8, threshold=0.3)
    assert (sorted(r.vec_id for r in back.select("vec_id").collect())
            == sorted(r.vec_id for r in want.select("vec_id").collect()))
    assert 0 < back.count() < emb.count()  # non-vacuous at this threshold


def test_cli_pq_index(spark, tmp_path):
    """N4xN3 pipeline: the IVF-PQ index lands partitioned by cid (one
    directory per cell) and round-trips the library encode exactly."""
    from profet_spark.operators import similarity
    from profet_spark.sources import load_table

    out_dir = str(tmp_path / "pqidx")
    rc = main(["--pipeline", "pq_index", "--input", SF,
               "--n-shards", "4", "--output", out_dir], _spark=spark)
    assert rc == 0
    import os as _os
    assert any(d.startswith("cid=") for d in _os.listdir(out_dir))
    back = spark.read.parquet(out_dir)
    emb = load_table(spark, SF, "embeddings")
    want = similarity.ivf_pq_encode(emb, n_centroids=4)
    a = back.select("id", "cid", "codes").toPandas().sort_values("id")
    b = want.toPandas().sort_values("id")
    assert a.id.tolist() == b.id.tolist()
    assert a.cid.tolist() == b.cid.tolist()
    assert [list(x) for x in a.codes] == [list(x) for x in b.codes]


def test_cli_snapshot_versioned_ingest(spark, tmp_path, capsys):
    """snapshot: bootstrap -> noop re-run -> delta append + retention."""
    import json

    from profet_spark.sources import versioned as V

    store = str(tmp_path / "vstore")
    # split the events table in time: bootstrap sees the early half only
    full = spark.read.parquet(os.path.join(SF, "events.parquet"))
    early_root = tmp_path / "early"
    early_root.mkdir()
    cut = "2024-01-15 00:00:00"
    full.where(f"ts < '{cut}'").write.parquet(
        str(early_root / "events.parquet"))

    rc = main(["--pipeline", "snapshot", "--input", str(early_root),
               "--output", store, "--n-shards", "4"], _spark=spark)
    assert rc == 0
    j = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert j["operation"] == "create" and j["version"] == 1

    # identical re-run: high watermark covers everything -> no new commit
    rc = main(["--pipeline", "snapshot", "--input", str(early_root),
               "--output", store], _spark=spark)
    assert rc == 0
    j = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert j["operation"] == "noop" and j["version"] == 1

    # the full table arrives: one append commit of ONLY the late delta,
    # then --keep-last retention
    rc = main(["--pipeline", "snapshot", "--input", SF,
               "--output", store, "--keep-last", "2"], _spark=spark)
    assert rc == 0
    j = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert j["operation"] == "append" and j["version"] == 2
    assert j["versions_retained"] == [1, 2]
    got = V.read_versioned(spark, store)
    assert got.count() == full.count()
    assert j["rows_written"] == full.where(f"ts >= '{cut}'").count()


def test_cli_compact_routes_versioned_stores(spark, tmp_path, capsys):
    import json

    from pyspark.sql import Row, functions as F

    from profet_spark.sources import versioned as V

    def mk(rows):
        return spark.createDataFrame(
            [Row(image_id=i, ts=t, val=v) for i, t, v in rows],
            "image_id bigint, ts string, val double",
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    store = str(tmp_path / "vstore")
    V.create_versioned(mk([(1, "2024-01-01 10:00:00", 1.0)]), store,
                       ts_col="ts", entity_col="image_id", n_buckets=2)
    for k in range(5):
        V.append_versioned(
            spark, mk([(1, f"2024-01-01 10:0{k}:00", float(k))]), store)
    rc = main(["--pipeline", "compact", "--input", store], _spark=spark)
    assert rc == 0
    j = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert j["partitions_compacted"] == 1 and j["version"] == 7


def test_cli_spandedup(spark, tmp_path):
    out_dir = str(tmp_path / "spancut")
    rc = main(["--pipeline", "spandedup", "--input", SF,
               "--ngram", "40", "--output", out_dir], _spark=spark)
    assert rc == 0
    back = spark.read.parquet(out_dir)
    orig = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    assert back.count() == orig.count()
    # the corpus-wide duplicated spans were excised somewhere
    import pyspark.sql.functions as F
    tot_b = back.agg(F.sum(F.length("text"))).collect()[0][0]
    tot_o = orig.agg(F.sum(F.length("text"))).collect()[0][0]
    assert tot_b < tot_o


def test_cli_retention_pipeline(spark):
    """A17 retention over testdata events: dry-run returns the day-pair
    rollup with the set-algebra identity n_a = retained + churned."""
    from profet_spark.__main__ import _build

    df = _build(spark, "retention", SF)
    pdf = df.toPandas()
    assert len(pdf) > 0
    assert (pdf["n_a"] == pdf["retained"] + pdf["churned"]).all()
    assert (pdf["n_b"] == pdf["retained"] + pdf["fresh"]).all()
