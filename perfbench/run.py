"""Repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 1 --trace 0

Workloads: ``etl_nightly``, ``analyst_mix``, ``corpus_mix`` (see
perfbench/README.md). The run builds the program's Spark session on
``local[<cores>]``, generates the workload's inputs from ``--seed``,
sets up (data, artifacts, warm-up), then runs ops one at a time for at
least ``--seconds`` seconds, up to the end of a whole unit of work (one
nightly op, one query pass, one ingest/serve period), and checks the
outputs.

stdout: one ``name value unit`` line per end-to-end metric of the
workload, then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1`` (a traced run also writes its spans under
``.bench_work/traces/``). Exit status is 1 when any op failed or any
output check failed.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("etl_nightly", "analyst_mix", "corpus_mix")
PREP_REPEATS = 3  # input generation runs this often; one (the median) counts


def workload_class(name: str):
    if name == "etl_nightly":
        from perfbench.etl import EtlNightly
        return EtlNightly
    if name == "analyst_mix":
        from perfbench.analyst import AnalystMix
        return AnalystMix
    from perfbench.corpus import CorpusMix
    return CorpusMix


def calibrate(probes: int = 5) -> list[float]:
    """Host speed probe: wall times of a fixed single-thread Python
    loop. Runs between ops, while the program is idle."""
    times = []
    for _ in range(probes):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i
        times.append(time.perf_counter() - t)
    return times


def timed_loop(wl, tracer, seconds: float) -> tuple[list[dict], float]:
    """Closed loop, one op in flight. Stops at the first op boundary the
    workload accepts after ``seconds`` of wall time. Returns the ops and
    the run's host-speed probe (median over the probes before each op
    and after the last)."""
    ops: list[dict] = []
    cal = []
    start = time.perf_counter()
    while True:
        kind, fn = wl.next_op()
        cal += calibrate()
        op = {"kind": kind, "ok": True, "problems": []}
        markers = common.artifact_markers()
        t0 = time.perf_counter()
        ovh0 = tracer.overhead_s
        try:
            with tracer.span(f"op.{kind}", timed=True) as root:
                fn()
        except Exception:
            op["ok"] = False
            op["problems"].append(traceback.format_exc(limit=3))
        op["s"] = time.perf_counter() - t0
        op["trace_overhead_s"] = tracer.overhead_s - ovh0
        op["span"] = root.get("id")
        op["artifact_built"] = common.artifact_markers() != markers
        ops.append(op)
        wl.after_op(op)
        if time.perf_counter() - start >= seconds and wl.at_boundary():
            cal += calibrate()
            return ops, common.median(cal)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(common.ROOT, "aws_imdb_data_pipeline_spark")):
        print("perfbench: the aws_imdb_data_pipeline_spark package is not "
              f"next to perfbench/ under {common.ROOT}", file=sys.stderr)
        return 2

    work = common.isolate(args.workload, args.seed)
    from perfbench.report import per_layer, summarize
    from perfbench.trace import Tracer

    spark = None
    try:
        t = time.perf_counter()
        spark = common.build_session(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t
        tracer = Tracer(spark, bool(args.trace))
        wl = workload_class(args.workload)(spark, tracer, args.seed, work)

        prep = []
        for _ in range(PREP_REPEATS):
            t = time.perf_counter()
            with tracer.span("setup.prepare"):
                wl.prepare()
            prep.append(time.perf_counter() - t)
        with tracer.span("setup.warm"):
            wl.warm()
        # process start -> first timed op, counting one preparation and
        # leaving out the benchmark's own oracle work during set-up
        setup_s = (time.time() - T0) - (sum(prep) - common.median(prep)) \
            - getattr(wl, "setup_check_s", 0.0)

        gc0 = common.jvm_gc_s(spark)
        ops, cal_s = timed_loop(wl, tracer, args.seconds)
        gc_s = common.jvm_gc_s(spark) - gc0
        rss = common.peak_rss_mb(common.jvm_pid(spark))
        wl.check(ops)  # marks ops whose outputs are wrong
        tracer.attach_counters()

        failed = sum(not op["ok"] for op in ops)
        run = {
            "setup_s": setup_s, "session_s": session_s, "prep_s": prep,
            "peak_rss_mb": rss, "gc_s": gc_s, "cores": common.cores(),
            "cal_s": cal_s,
        }
        lines, e2e = summarize(wl, ops, run)
        for name, value, unit in lines:
            print(f"{name} {value:.6g} {unit}")
        for op in ops:
            for p in op["problems"]:
                print(f"FAILED {op['kind']}: {p}", file=sys.stderr)
        metrics = per_layer(wl, ops, run, tracer) if args.trace else e2e
        if args.trace:
            out = os.path.join(common.WORK_ROOT, "traces")
            os.makedirs(out, exist_ok=True)
            tracer.write(
                os.path.join(out, f"{args.workload}-s{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "run": run,
                 "ops": ops, "metrics": metrics},
            )
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            common.stop_session(spark)
        os.chdir(common.ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
