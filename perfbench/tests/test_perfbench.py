"""The benchmark's own tests. Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
CHECKOUT = os.path.dirname(BENCH)
for p in (BENCH, CHECKOUT):
    if p not in sys.path:
        sys.path.insert(0, p)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [CHECKOUT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

import harness  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


# ------------------------------------------------------------ pure helpers

def test_parse_metric_formats():
    assert spans.parse_metric("539.0 B") == 539.0
    assert spans.parse_metric("10,000") == 10000.0
    assert spans.parse_metric("0 ms") == 0.0
    total = ("total (min, med, max (stageId: taskId))\n"
             "1.5 KiB (1.0 B, 2.0 B, 3.0 B (stage 0.0: task 3))")
    assert spans.parse_metric(total) == 1536.0
    assert spans.parse_metric("total (min, med, max)\n7.4 s (1.8 s, 1.9 s, 1.9 s)") == 7.4
    with pytest.raises(ValueError):
        spans.parse_metric("7.4 furlongs")


def test_tail_keeps_ten_samples_beyond():
    times = [float(i) for i in range(1, 31)]  # 30 samples
    value, pct, beyond = harness.tail(times)
    assert beyond == 10 and value == 20.0 and pct == pytest.approx(100 * 20 / 30)
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    assert e2e == {n: (u, b) for n, u, b in run.END_TO_END}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == spans.LAYER_UNITS
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


def test_generators_are_seeded():
    from gen import corpus, events

    a, b, c = events(5, 500, 20), events(5, 500, 20), events(6, 500, 20)
    assert a.equals(b) and not a.equals(c)
    words = ["aa", "bb", "cc", "dd"]
    assert corpus(3, 40, words).equals(corpus(3, 40, words))


# ----------------------------------------------- a planted wrong output

class _Planted(workloads.PitTraining):
    """The first measured pass returns a wrong digest, the second raises:
    both must count."""

    def run_pass(self, spark, tr, cold):
        self._n = getattr(self, "_n", 0) + 1
        got = super().run_pass(spark, tr, cold)
        if self._n == 2 + harness.WARMUP_PASSES:
            return {**got, "rows": got["rows"] + 1}
        if self._n == 3 + harness.WARMUP_PASSES:
            raise RuntimeError("planted failure")
        return got


def test_planted_wrong_output_counts_in_failed_share(tmp_path):
    # runs first: harness.run owns its session, start to JVM exit
    wl = _Planted(1, "tiny", str(tmp_path), str(tmp_path / "out"))
    wl.generate()
    res = harness.run(wl, seconds=0.0, trace=False, tmp_root=str(tmp_path), log=print)
    assert res["attempted"] >= 1 + harness.WARMUP_PASSES + 2 + harness.MIN_PASSES
    assert res["failed"] == 2
    assert res["end_to_end"]["failed_share"] == 2 / res["attempted"]
    assert any("digest" in f for f in res["failures"])
    assert any("planted failure" in f for f in res["failures"])
    # the cold and warm-up passes are no samples
    assert res["passes"] == res["attempted"] - 1 - harness.WARMUP_PASSES - 2


# ------------------------------------------- one shared session from here

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = harness.start_session(str(tmp_path_factory.mktemp("spark")))
    yield s
    harness.stop_session(s)


@pytest.mark.parametrize("name", list(workloads.WORKLOADS))
def test_tiny_smoke_run_matches_its_oracle(spark, tmp_path, name):
    wl = workloads.WORKLOADS[name](2, "tiny", str(tmp_path), str(tmp_path / "out"))
    wl.generate()
    wl.open(spark)
    tr = spans.NullTracer()
    wl.before_pass(True)
    cold = wl.run_pass(spark, tr, True)
    wl.prepare_reference(spark)
    assert wl.check(spark, cold) == (True, "")
    wl.before_pass(False)
    assert wl.check(spark, wl.run_pass(spark, tr, False)) == (True, "")


def test_tiny_smoke_oracle_rejects_a_wrong_pit_output(spark, tmp_path):
    wl = workloads.PitTraining(2, "tiny", str(tmp_path), str(tmp_path / "out"))
    wl.generate()
    wl.expected.loc[0, "value_sum_cum"] += 0.01  # the oracle now disagrees
    wl.open(spark)
    got = wl.run_pass(spark, spans.NullTracer(), True)
    wl.prepare_reference(spark)
    ok, reason = wl.check(spark, got)
    assert not ok and "digest" in reason


def _asof_jobs(spark, **kw) -> float:
    from pyspark.sql import functions as F

    from profet_spark.operators import asof

    left = spark.range(200).select(
        (F.col("id") % 7).alias("k"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"), F.col("id").alias("v"))
    right = spark.range(50).select(
        (F.col("id") % 7).alias("k"),
        F.timestamp_seconds(F.col("id") * 200 + 7).alias("ts"), F.col("id").alias("w"))
    tr = spans.Tracer(spark)
    tr.pass_id = 1
    with tr.span("operators.asof.call"):
        out = asof.asof_join(left, right, entity="k", ts="ts", **kw)
    tr.boundary("operators.asof.exec", out)
    return tr.layers(input_rows=250)[1].get("operators.asof.call_jobs", 0.0)


def test_default_asof_join_records_eager_call_jobs(spark):
    assert _asof_jobs(spark) >= 1
    assert _asof_jobs(spark, strategy="window") == 0


def test_known_exchange_record_count_on_a_tiny_group_by(spark):
    from pyspark.sql import functions as F

    tr = spans.Tracer(spark)
    tr.pass_id = 1
    # 4 input partitions, each holding all 10 keys: the map-side partial
    # aggregate writes 10 records per partition into the exchange
    df = spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 10).alias("k")).count()
    tr.boundary("sink", df)
    layers = tr.layers(input_rows=1000)[1]
    assert layers["exchange.records"] == 40
    assert layers["exchange.records_per_input_row"] == 40 / 1000
    assert layers["spark.jobs"] >= 1 and layers["spark.tasks"] >= 4
