"""The three workloads: seeded inputs, one pass over the library's public
calls, and an oracle for the pass's output.

A workload's life in a run:

- ``generate()`` builds the inputs from the seed and stages them as
  parquet (before the session starts; the benchmark's own cost);
- ``open(spark)`` plans the reads; ``before_pass`` prepares untimed state;
- ``run_pass(spark, tracer, cold)`` is the timed region: the public calls
  and the sink. It returns what the check needs;
- ``prepare_reference(spark)`` builds any Spark-side part of the oracle,
  after the cold pass so it cannot warm the session up for it;
- ``check(spark, result)`` grades one pass, outside the timed region.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

SIZES = ("full", "tiny")


def stage(pdf: pd.DataFrame, path: str, n_files: int, schema: pa.Schema | None = None) -> str:
    """Write ``pdf`` as ``n_files`` parquet files, so the scan splits."""
    os.makedirs(path)
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    step = -(-len(pdf) // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))
    return path


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _digest_aggs(cols: list[str]):
    """Order-independent digest of a frame: rows, xor and modular sum of
    a 64-bit row hash. Any changed, missing or extra row changes it."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in cols])
    return [F.count(F.lit(1)).alias("rows"), F.bit_xor(h).alias("xor"),
            F.sum(F.pmod(h, F.lit(2_147_483_647))).alias("mod")]


class Workload:
    name = ""

    def __init__(self, seed: int, size: str, tmp_root: str, out_dir: str):
        if size not in SIZES:
            raise ValueError(f"unknown size {size!r}; choose from {SIZES}")
        self.seed, self.size = seed, size
        self.tmp_root, self.out_dir = tmp_root, out_dir
        self.input_dir = os.path.join(tmp_root, "inputs")
        self.input_rows = 0
        self.frames: dict = {}

    def before_pass(self, cold: bool) -> None:
        pass

    def prepare_reference(self, spark) -> None:
        pass

    def store_ratio(self) -> float:
        return 0.0


class PitTraining(Workload):
    """As-of features, temporal windows and a point-in-time training
    matrix with forward labels over a skewed events stream."""

    name = "pit_training"
    HORIZON_S = 7 * 86400
    GAP_S = 3600
    TABLES = ("profile", "balance", "risk")

    def generate(self) -> None:
        n = {"full": 100_000, "tiny": 3_000}[self.size]
        users = max(20, n // 67)  # sf0.1 events: 100k rows over 1.5k users
        self.events = gen.events(self.seed, n, users)
        self.features = {
            t: gen.keyed_table(self.seed, 2 + i, n // 10, users,
                               {f"{t}_x": "double", f"{t}_n": "long"})
            for i, t in enumerate(self.TABLES)
        }
        self.labels = gen.keyed_table(self.seed, 9, n // 5, users, {"label": "long"})
        self.input_rows = (len(self.events) + len(self.labels)
                           + sum(len(f) for f in self.features.values()))
        files = {"full": 8, "tiny": 2}[self.size]
        self.paths = {"events": stage(self.events, f"{self.input_dir}/events", files),
                      "labels": stage(self.labels, f"{self.input_dir}/labels", files)}
        for t, pdf in self.features.items():
            self.paths[t] = stage(pdf, f"{self.input_dir}/{t}", files)
        self.expected = self.oracle()

    def describe(self) -> str:
        return (f"{len(self.events)} events over {self.events.user_id.nunique()} users, "
                f"3 feature tables, {len(self.labels)} labels")

    def open(self, spark) -> None:
        self.frames = {k: spark.read.parquet(p) for k, p in self.paths.items()}

    def run_pass(self, spark, tr, cold: bool):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from profet_spark.operators import asof, feature_matrix, temporal

        ev = self.frames["events"]
        purchases = (ev.where(F.col("event_type") == "purchase")
                     .groupBy("user_id", "ts").agg(F.max("value").alias("purch_val")))
        key = {"entity": "user_id", "ts": "ts"}
        with tr.span("operators.asof.call"):
            out = asof.asof_join(ev, purchases, **key)
        tr.boundary("operators.asof.exec", out)
        with tr.span("operators.temporal.call"):
            out = temporal.ffill(out, ["purch_val"], tiebreak=["event_id"], **key)
            out = temporal.sessionize(out, self.GAP_S, tiebreak=["event_id"], **key)
            out = temporal.expanding_stats(out, "value", tiebreak=["event_id"], **key)
        tr.boundary("operators.temporal.exec", out)
        with tr.span("operators.feature_matrix.call"):
            mat = feature_matrix.point_in_time_matrix(
                out, {t: self.frames[t] for t in self.TABLES}, **key)
        tr.boundary("operators.feature_matrix.exec", mat)
        with tr.span("operators.asof.label_join.call"):
            mat = asof.label_join(mat, self.frames["labels"], horizon_s=self.HORIZON_S, **key)
        obs = Observation("perfbench_pit")
        with tr.span("sink"):
            _noop(mat.observe(obs, *_digest_aggs(mat.columns)))
        self.schema = mat.schema
        return obs.get

    def oracle(self) -> pd.DataFrame:
        """The pass's expected output in pandas: ``merge_asof`` backward
        for features, forward for labels; per-user running windows."""
        ev = self.events
        purch = (ev[ev.event_type == "purchase"].groupby(["user_id", "ts"], as_index=False)
                 .value.max().rename(columns={"value": "purch_val"}).sort_values("ts"))
        out = pd.merge_asof(ev.sort_values(["ts", "event_id"]), purch,
                            on="ts", by="user_id", direction="backward")
        out = out.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
        g = out.groupby("user_id", sort=False)
        out["purch_val_ffill"] = g.purch_val.ffill()
        prev = g.ts.shift(1)
        new = (prev.isna() | ((out.ts - prev) > pd.Timedelta(seconds=self.GAP_S))).astype(np.int64)
        out["session_id"] = new.groupby(out.user_id).cumsum() - 1
        # Spark's running window sums add in row order; numpy's cumsum over
        # each user's rows adds in the same order, so the sums match bit
        # for bit and the digest can compare them exactly
        vals = out.value.to_numpy()
        csum = np.empty_like(vals)
        bounds = np.flatnonzero(np.diff(out.user_id.to_numpy())) + 1
        for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, len(vals)]):
            csum[lo:hi] = np.cumsum(vals[lo:hi])
        count = g.cumcount().to_numpy() + 1
        out["value_mean_cum"] = csum / count
        out["value_min_cum"] = g.value.cummin()
        out["value_max_cum"] = g.value.cummax()
        out["value_count_cum"] = count.astype(np.int64)
        out["value_sum_cum"] = csum
        out = out.sort_values("ts", kind="stable")
        for t in self.TABLES:
            f = self.features[t].sort_values("ts")
            out = pd.merge_asof(out, f, on="ts", by="user_id", direction="backward")
        out = pd.merge_asof(out, self.labels.sort_values("ts"), on="ts", by="user_id",
                            direction="forward", tolerance=pd.Timedelta(seconds=self.HORIZON_S))
        return out

    def prepare_reference(self, spark) -> None:
        """Digest the oracle's rows with the same Spark expression the
        pass's sink observes, cast to the pass's output schema."""
        from pyspark.sql import functions as F

        path = os.path.join(self.tmp_root, "oracle")
        stage(self.expected[[f.name for f in self.schema]], path, 1)
        ref = spark.read.parquet(path).select(
            *[F.col(f.name).cast(f.dataType) for f in self.schema])
        self.reference = ref.agg(*_digest_aggs(ref.columns)).collect()[0].asDict()

    def check(self, spark, result):
        got = dict(result)
        if got != self.reference:
            return False, f"output digest {got} != oracle digest {self.reference}"
        return True, ""


class Descriptors(Workload):
    """ProFET descriptor families over image+caption snapshots."""

    name = "descriptors"
    SAMPLE_ENTITIES = 6
    IMG_STATS = ("lum_mean", "lum_var", "lum_min", "lum_max", "edge_density")

    def generate(self) -> None:
        from profet_spark import fixtures
        from profet_spark import oracle_numpy

        # make_fixture's row count varies with the seed; a fixed row count
        # keeps pass times comparable across seeds (600 entities give
        # about 3,780 +- 60 rows)
        n_ent, n_rows = {"full": (600, 3500), "tiny": (30, 150)}[self.size]
        pdf = fixtures.make_fixture(n_entities=n_ent, seed=self.seed)
        pdf = pdf.sort_values(["image_id", "ts"]).head(n_rows).reset_index(drop=True)
        pdf["version"] = pdf.groupby("image_id").cumcount()
        self.input_rows = len(pdf)
        schema = pa.schema([
            ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
            ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
            ("phash", pa.int64()), ("ts", pa.timestamp("us")),
        ])
        files = {"full": 8, "tiny": 2}[self.size]
        self.path = stage(pdf[schema.names], f"{self.input_dir}/snapshots", files, schema)
        # phash Hamming distance to the previous version, summed
        ph = pdf.phash.to_numpy().view(np.uint64)
        same = pdf.image_id.to_numpy()[1:] == pdf.image_id.to_numpy()[:-1]
        xor = (ph[1:] ^ ph[:-1])[same]
        self.hamming_sum = int(sum(bin(int(x)).count("1") for x in xor))
        # seeded sample of cold entities, with oracle values per version
        hot = set(fixtures.hot_entity_ids(n_ent))
        cold_ids = sorted(set(pdf.image_id) - hot)
        rng = np.random.default_rng([self.seed, 11])
        self.sample_ids = sorted(rng.choice(cold_ids, self.SAMPLE_ENTITIES, replace=False).tolist())
        self.sample = {}
        for r in pdf[pdf.image_id.isin(self.sample_ids)].itertuples():
            arr = fixtures.pixel_array(r.image_id, r.version, r.w, r.h).astype(np.float64)
            lum = 0.299 * arr[..., 0] + 0.587 * arr[..., 1] + 0.114 * arr[..., 2]
            feats = oracle_numpy.all_features(r.caption)
            self.sample[(r.image_id, r.version)] = {
                "features": np.array([feats[n] for n in oracle_numpy.feature_names()]),
                "lum_mean": lum.mean(), "lum_var": lum.var(), "lum_min": lum.min(),
                "lum_max": lum.max(), "edge_density": np.abs(np.diff(lum, axis=1)).mean(),
            }

    def describe(self) -> str:
        return f"{self.input_rows} image+caption snapshots"

    def open(self, spark) -> None:
        df = spark.read.parquet(self.path)
        self.frames = {"snapshots": df.withColumn("ts", df["ts"].cast("timestamp"))}

    def run_pass(self, spark, tr, cold: bool):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from profet_spark.functions import image_descriptors as imgd
        from profet_spark.functions import text_descriptors as td

        with tr.span("functions.text_descriptors.call"):
            out = td.add_caption_features_packed(self.frames["snapshots"])
        tr.boundary("functions.text_descriptors.exec", out)
        with tr.span("functions.image_descriptors.call"):
            out = imgd.add_image_features(out)
            out = imgd.phash_hamming_to_prev(out)
        tr.boundary("functions.image_descriptors.exec", out)
        picked = F.col("image_id").isin(self.sample_ids)
        sample = F.struct("image_id", "ts", "features", "decode_ok", *self.IMG_STATS)
        obs = Observation("perfbench_descriptors")
        with tr.span("sink"):
            _noop(out.observe(
                obs, F.count(F.lit(1)).alias("rows"),
                F.sum("phash_hamming_prev").alias("hamming"),
                F.collect_list(F.when(picked, sample)).alias("sample")))
        return obs.get

    def check(self, spark, result):
        if result["rows"] != self.input_rows:
            return False, f"{result['rows']} output rows, expected {self.input_rows}"
        if result["hamming"] != self.hamming_sum:
            return False, f"phash Hamming sum {result['hamming']} != {self.hamming_sum}"
        got = sorted(result["sample"], key=lambda r: (r["image_id"], r["ts"]))
        if len(got) != len(self.sample):
            return False, f"{len(got)} sampled rows, expected {len(self.sample)}"
        version = 0
        for i, row in enumerate(got):
            version = version + 1 if i and got[i - 1]["image_id"] == row["image_id"] else 0
            want = self.sample[(row["image_id"], version)]
            if not row["decode_ok"]:
                return False, f"{row['image_id']} v{version}: decode failed"
            if not np.allclose(row["features"], want["features"], rtol=1e-9, atol=1e-12):
                return False, f"{row['image_id']} v{version}: caption features differ"
            for s in self.IMG_STATS:
                if not np.isclose(row[s], want[s], rtol=1e-9, atol=1e-12):
                    return False, f"{row['image_id']} v{version}: {s} {row[s]} != {want[s]}"
        return True, ""


class DailyIngest(Workload):
    """A day's documents into a near-duplicate signature store that
    already holds the day before."""

    name = "daily_ingest"
    DAYS = ("2025-01-01 00:00:00", "2025-01-02 00:00:00")
    PAIR_KEY = ["id_a", "id_b", "inter", "na", "nb"]

    def generate(self) -> None:
        from profet_spark import fixtures

        n = {"full": 600, "tiny": 80}[self.size]
        docs = gen.corpus(self.seed, n, fixtures.vocab())
        rng = np.random.default_rng([self.seed, 13])
        day = rng.integers(0, len(self.DAYS), n)
        self.input_rows = int((day == len(self.DAYS) - 1).sum())
        self.n_docs = n
        self.text_bytes = int(docs.text.str.encode("utf-8").str.len().sum())
        self.paths = [stage(docs[day == d].reset_index(drop=True),
                            f"{self.input_dir}/day{d}", 2) for d in range(len(self.DAYS))]
        self.all_path = stage(docs, f"{self.input_dir}/all", 2)
        self.store_root = os.path.join(self.tmp_root, "stores")
        self.passes = 0
        self.last_store = None

    def describe(self) -> str:
        return (f"{self.n_docs} documents over {len(self.DAYS)} days; a pass ingests "
                f"the last day ({self.input_rows} docs)")

    def open(self, spark) -> None:
        self.frames = {f"day{d}": spark.read.parquet(p) for d, p in enumerate(self.paths)}
        self.frames["all"] = spark.read.parquet(self.all_path)

    def _ingest(self, spark, tr, day: int, store: str) -> pd.DataFrame:
        from profet_spark.operators import dedup

        with tr.span("operators.dedup.call"):
            pairs = dedup.signature_store_ingest(
                spark, self.frames[f"day{day}"], store, ingest_ts=self.DAYS[day])
        with tr.span("sink"):
            return pairs.toPandas()

    def before_pass(self, cold: bool) -> None:
        self.passes += 1
        self.store = os.path.join(self.store_root, f"pass-{self.passes}")
        if not cold:
            shutil.copytree(self.base_store, self.store)

    def run_pass(self, spark, tr, cold: bool):
        """The cold pass ingests the first day into an empty store; that
        store is the base every warm pass ingests the second day into."""
        if cold:
            pairs = self._ingest(spark, tr, 0, self.store)
            self.base_store, self.day0_pairs = self.store, pairs
            return {"pairs": [pairs], "store": self.store, "days": 1}
        return {"pairs": [self.day0_pairs, self._ingest(spark, tr, 1, self.store)],
                "store": self.store, "days": 2}

    def prepare_reference(self, spark) -> None:
        from profet_spark.operators import dedup

        full = dedup.minhash_lsh_pairs(self.frames["all"], persist=False).toPandas()
        self.reference = self._sorted(full)
        day0 = set(pd.read_parquet(self.paths[0]).doc_id)
        self.day0_reference = self._sorted(
            full[full.id_a.isin(day0) & full.id_b.isin(day0)])
        self.day0_docs = len(day0)

    def _sorted(self, pairs: pd.DataFrame) -> pd.DataFrame:
        return pairs[self.PAIR_KEY].sort_values(["id_a", "id_b"]).reset_index(drop=True)

    def check(self, spark, result):
        """The union of the per-day pairs equals the one-shot run over the
        days ingested so far; the store holds one signature row per id."""
        from profet_spark.sources import partitioned

        got = self._sorted(pd.concat(result["pairs"]))
        want, docs = ((self.day0_reference, self.day0_docs) if result["days"] == 1
                      else (self.reference, self.n_docs))
        if not got.equals(want):
            return False, (f"{len(got)} pairs over {result['days']} day(s), the one-shot "
                           f"run has {len(want)} (or the pairs differ)")
        sig = partitioned.scan_pruned(spark, os.path.join(result["store"], "signatures"),
                                      ts_col="ingest_ts", entity_col="id")
        from pyspark.sql import functions as F

        row = sig.agg(F.count(F.lit(1)), F.countDistinct("id")).collect()[0]
        n, distinct = row[0], row[1]
        if not n == distinct == docs:
            return False, f"store holds {n} signature rows, {distinct} ids, for {docs} docs"
        if result["days"] == 2:
            if self.last_store:
                shutil.rmtree(self.last_store)
            self.last_store = result["store"]
        return True, ""

    def store_ratio(self) -> float:
        if not self.last_store:
            return 0.0
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, files in os.walk(self.last_store) for f in files)
        return size / self.text_bytes


WORKLOADS = {w.name: w for w in (PitTraining, Descriptors, DailyIngest)}
