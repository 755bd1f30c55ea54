"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_lifecycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the ``end_to_end`` ones of BENCHMARK.json;
with ``--trace 1`` the ``per_layer`` ones. The line before it (prefixed
``# detail``) carries the workload-level metrics of README.md, the
output digests and any recorded errors.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WARMUP_PASSES = 2
MIN_PASSES = 2
GENERATIONS = 3


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _metrics(spec_rows: list[dict], values: dict) -> dict:
    out = {}
    for row in spec_rows:
        v = values.get(row["name"])
        out[row["name"]] = {"value": float(v) if v is not None else 0.0, "unit": row["unit"]}
    return out


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    spec = _load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "databricks_feature_store_poc_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2

    from perfbench import harness, layers

    # The first SIGTERM unwinds through the finally below, which stops the
    # JVM and removes the work directory; later ones must not cut it short.
    def on_term(*_):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)

    signal.signal(signal.SIGTERM, on_term)
    cpus = len(os.sched_getaffinity(0))
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    harness.pin_environment(work_dir, cpus)
    counter = harness.Py4jCounter()
    if args.trace:
        counter.install()
    tracer = harness.Tracer(counter)
    ops = harness.Ops()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_session(work_dir, cpus)
        session_s = time.perf_counter() - t0
        tracer.bind(spark)
        wl = WORKLOADS[args.workload](spark, work_dir, args.seed, tracer, ops)

        # Set-up: input generation is repeated and its median counted;
        # session start, one-time state and warm-up happen once. A fresh
        # JVM keeps speeding passes up for several passes after the first
        # (README.md, Noise); two warm-up passes take the steepest part.
        gen = []
        for _ in range(GENERATIONS):
            t0 = time.perf_counter()
            wl.generate()
            gen.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        pass_no = 0
        warmup = []
        # A traced run warms up one pass longer: the JIT is still speeding
        # passes up, which would bias its plain-vs-deep comparison.
        for _ in range(WARMUP_PASSES + args.trace):
            tracer.pass_id = pass_no
            wl.stage_pass(pass_no)
            t0 = time.perf_counter()
            wl.run_pass(pass_no, record=False)
            warmup.append(time.perf_counter() - t0)
            pass_no += 1
        warmup_stages = dict(wl.pass_samples)
        setup_s = time.perf_counter() - T_START - sum(gen) + harness.median(gen)

        # Timed passes. Traced runs interleave plain and deep-traced
        # passes in plain-deep-deep-plain blocks, so a JVM that is still
        # speeding up biases neither side much: plain passes give the
        # workload metrics, deep ones the layer metrics, the two medians
        # the tracing overhead.
        plain, deep, plain_cpu = [], [], []
        busy0, steal0 = harness.cpu_ticks()
        deadline = time.perf_counter() + args.seconds
        while True:
            n = len(plain) + len(deep)
            tracer.deep = bool(args.trace) and n % 4 in (1, 2)
            tracer.pass_id = pass_no
            wl.stage_pass(pass_no)
            c0 = harness.tree_cpu_s()
            t0 = time.perf_counter()
            with tracer.span("pass"):
                wl.run_pass(pass_no, record=not tracer.deep)
            (deep if tracer.deep else plain).append(time.perf_counter() - t0)
            if not tracer.deep:
                plain_cpu.append(harness.tree_cpu_s() - c0)
            pass_no += 1
            tracer.deep = False
            n += 1
            left = deadline - time.perf_counter()
            est = harness.median(plain + deep)
            if args.trace:
                if n % 4 == 0 and 4 * est > left:
                    break
            elif n >= MIN_PASSES and est > left:
                break
        busy1, steal1 = harness.cpu_ticks()
        detail = wl.detail()
        detail.update(
            setup_s=setup_s,
            session_s=session_s,
            generate_s=harness.median(gen),
            prepare_s=prepare_s,
            warmup_s=warmup,
            warmup_stages=warmup_stages,
            pass_walls=plain,
            pass_cpus=plain_cpu,
            pass_s=harness.median(plain),
            pass_cpu_s=harness.median(plain_cpu),
            passes=len(plain),
            steal_pct=100 * (steal1 - steal0) / max(busy1 - busy0 + steal1 - steal0, 1),
            peak_rss_mb=harness.peak_rss_mb(),
            failed_ratio=ops.failed / max(ops.attempted, 1),
        )
        if args.trace:
            tracer.attribute(spark)
            values = layers.layer_metrics(tracer, detail, deep, spark)
            detail["layers"] = values
            metrics = _metrics(spec["per_layer"], values)
        else:
            metrics = _metrics(spec["end_to_end"], detail)
    finally:
        try:
            harness.stop_session(spark)
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work_dir))  # only when no other run uses it
            except OSError:
                pass

    print("# detail " + json.dumps({"workload": args.workload, "seed": args.seed,
                                     **detail, "errors": ops.errors}, default=str))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
