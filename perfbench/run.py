"""The repo benchmark: one seeded workload per run, checked against an oracle.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload pit_training --seed 1 --seconds 16 --trace 0

``--workload all`` runs every workload in turn. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
Human-readable lines go first; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. METRICS.md describes
every metric and workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

# (name, unit, better) of the gated metrics the final JSON line carries;
# cold_pass_s, pass_s_tail, failed_share and stored_bytes_per_input_byte
# are printed on the human-readable lines only (METRICS.md says why)
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("rows_per_s", "rows/s", "higher"),
    ("peak_rss_mb", "MiB", "lower"),
)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _run_one(name: str, args, tmp_root: str) -> dict:
    import harness
    from workloads import WORKLOADS

    out_dir = os.path.join(CHECKOUT, ".perfbench_out")
    wl = WORKLOADS[name](args.seed, "full", os.path.join(tmp_root, name), out_dir)
    t0 = time.perf_counter()
    wl.generate()
    _log(f"{name}: {wl.describe()}; local[{harness.nproc()}], seed {args.seed}; "
         f"inputs generated in {time.perf_counter() - t0:.1f} s")
    res = harness.run(wl, args.seconds, bool(args.trace), os.path.join(tmp_root, name), _log)
    e2e = res["end_to_end"]
    for metric, unit, _ in END_TO_END:
        print(f"{name} {metric} = {e2e[metric]:.6g} {unit}")
    print(f"{name} cold_pass_s = {e2e['cold_pass_s']:.6g} s")
    t = res["tail"]
    print(f"{name} pass_s_tail = {e2e['pass_s_tail']:.6g} s "
          f"(p{t['percentile']:.0f} of {t['samples']} passes, {t['samples_beyond']} beyond)")
    print(f"{name} failed_share = {e2e['failed_share']:.6g} ratio "
          f"({res['failed']} of {res['attempted']} passes)")
    if name == "daily_ingest":
        print(f"{name} stored_bytes_per_input_byte = "
              f"{e2e['stored_bytes_per_input_byte']:.6g} ratio")
    if args.trace:
        from spans import LAYER_UNITS
        for metric, unit in LAYER_UNITS.items():
            print(f"{name} {metric} = {res['per_layer'][metric]:.6g} {unit}")
    for f in res["failures"]:
        print(f"{name} FAILED {f}")
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the library comes from this checkout, for this process and the workers
    sys.path.insert(0, CHECKOUT)
    sys.path.insert(1, HERE)
    import profet_spark  # fails here when the library is absent

    if os.path.dirname(os.path.dirname(os.path.abspath(profet_spark.__file__))) != CHECKOUT:
        raise SystemExit(f"profet_spark imported from {profet_spark.__file__}, "
                         f"not from this checkout")
    from workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    for n in names:
        if n not in WORKLOADS:
            ap.error(f"unknown workload {n!r}; choose from {', '.join(WORKLOADS)} or all")

    tmp_root = os.path.join(CHECKOUT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp_root)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp_root
    # every JVM (the launcher and Spark's) keeps its temp and perf-data files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_root}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp_root, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [CHECKOUT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        results = {n: _run_one(n, args, tmp_root) for n in names}
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp_root))
        except OSError:
            pass

    if args.trace:
        from spans import LAYER_UNITS
        units = LAYER_UNITS
        pick = lambda r: r["per_layer"]  # noqa: E731
    else:
        units = {m: u for m, u, _ in END_TO_END}
        pick = lambda r: r["end_to_end"]  # noqa: E731
    metrics = {}
    for n, r in results.items():
        prefix = "" if len(results) == 1 else f"{n}."
        for m, u in units.items():
            metrics[prefix + m] = {"value": pick(r)[m], "unit": u}
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
