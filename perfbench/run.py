#!/usr/bin/env python3
"""Repository benchmark: one workload per run, its outputs checked.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 45 --trace 0

Workloads: ``crawl`` (frontier crawl + resume + parse/tokenize, see
crawl.py) and ``operator_board`` (the analytical query board, see
board.py).  A run generates the workload's inputs from ``--seed``, starts
one local Spark session, then runs whole iterations of the workload for
about ``--seconds`` (at least one; an iteration is not started when it
would end past the budget).  Every output is checked after the timed
part.  ``--trace 1`` records spans around each call into the package and
reports the per-layer metrics; ``--trace 0`` reports the end-to-end
metrics.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
are a readable summary.  Metric names and units come from BENCHMARK.json
at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

from harness import (
    Outcome,
    RssSampler,
    Tracer,
    cores,
    isolate,
    make_spark,
    median,
    stop_spark,
    timed,
    timed_cpu,
    tree_cpu_s,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "privacy_crawler_parser_tokenizer_spark"
GEN_REPEATS = 3   # input generation is repeated; set-up counts the median
# printed first
PHASES = ("setup_wall_s", "session_s", "generate_s", "warm_up_s", "oracle_s", "check_s")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["crawl", "operator_board"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _make_workload(name, seed, work_dir):
    if name == "crawl":
        from crawl import CrawlWorkload

        return CrawlWorkload(seed, work_dir)
    from board import BoardWorkload

    return BoardWorkload(seed, work_dir, ROOT)


def run(args) -> tuple[dict, Outcome]:
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    isolate(work, ROOT)
    rss = RssSampler().start()
    spark = None
    try:
        wl = _make_workload(args.workload, args.seed, work)
        gens = [timed_cpu(wl.generate) for _ in range(GEN_REPEATS)]
        # the oracle needs only the generated inputs; it runs before the
        # session starts, so that nothing runs beside set-up
        t_oracle, _ = timed(wl.expected)
        cpu0 = tree_cpu_s()
        t_session, spark = timed(make_spark, work)
        wl.spark, wl.tracer = spark, Tracer(spark, bool(args.trace))
        t_warm, _ = timed(wl.warm_up)
        # set-up in CPU seconds of the process tree: the median generation,
        # then session start (the JVM's launch included) and warm-up
        setup_cpu = median(c for _, c, _ in gens) + tree_cpu_s() - cpu0
        gen = median(t for t, _, _ in gens)
        if args.trace:
            wl.install_probes()

        outcome, iterations = Outcome(), []
        start = time.perf_counter()
        while True:
            t0 = time.perf_counter()
            it = wl.iterate(outcome, penalty_s=args.seconds)
            now = time.perf_counter()
            iterations.append(wl.end_to_end(it))
            if (now - start) + (now - t0) > args.seconds:
                break
        values = {k: median([i[k] for i in iterations]) for k in iterations[0]}
        values.update(
            setup_s=setup_cpu, setup_wall_s=t_session + gen + t_warm,
            session_s=t_session, generate_s=gen,
            warm_up_s=t_warm, peak_rss_mb=rss.peak_kb / 1024.0,
            iterations=len(iterations),
        )
        t_check = time.perf_counter()
        try:
            wl.check(outcome)
        except Exception as exc:  # a broken check fails the run's result
            traceback.print_exc()
            outcome.fail("check", exc)
        values["check_s"] = time.perf_counter() - t_check
        values["oracle_s"] = t_oracle
        if args.trace:
            values.update(wl.layer_metrics(it))
            values["trace.run_s"], values["trace.cpu_s"] = values["run_s"], values["cpu_s"]
            _write_trace(args, wl, values)
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    return values, outcome


def _write_trace(args, wl, values) -> None:
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
    doc = {"workload": args.workload, "seed": args.seed, "spans": wl.tracer.dump(),
           "values": values}
    if hasattr(wl, "per_query_profiles"):
        doc["per_query"] = wl.per_query_profiles()
    with open(path, "w") as fp:
        json.dump(doc, fp, indent=1, sort_keys=True)
    print(f"trace written to {os.path.relpath(path, ROOT)}")


def report(args, values: dict, outcome: Outcome) -> dict:
    """Print the readable summary; return the result object."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        spec = json.load(fp)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    # a layer this workload never calls into did no work: it reports 0
    not_run = [m["name"] for m in declared if m["name"] not in values]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in declared}

    failed = len(outcome.failures)
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"iterations {values['iterations']}  cores {cores()}")
    for k in PHASES:
        print(f"  {k:28s} {values[k]:.4f} s")
    for name, m in metrics.items():
        print(f"  {name:28s} {m['value']:.6g} {m['unit']}")
    for name in sorted(set(values) - set(metrics) - set(PHASES)):
        if not args.trace or "." not in name:
            print(f"  {name:28s} {values[name]:.6g}")
    print(f"  {'error_rate':28s} {failed / max(outcome.attempted, 1):.4f} "
          f"({failed} failed of {outcome.attempted} checked operations)")
    if not_run:
        print(f"  not exercised by this workload (reported as 0): {', '.join(not_run)}")
    for f in outcome.failures:
        print(f"  FAILED {f}")
    return {"correct": failed == 0, "attempted": outcome.attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    values, outcome = run(args)
    line = json.dumps(report(args, values, outcome))
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
