"""Benchmark of the entity-resolution engine, one workload per process.

    python3 erbench/run.py --workload resolve --seed 1 --seconds 15 --trace 0
    python3 erbench/run.py --workload all          # each workload in turn

Runs from the root of a checkout. One Spark session sized to the host
(``local[nproc]``) serves one client that runs one job at a time: a
closed loop, for ``--seconds`` seconds. The corpus comes from
``generate_web_pages(seed=--seed)``; every run's output is checked. The
last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a separate traced run with
``--trace 1``. Everything written goes under ``.erbench_work/`` in the
checkout; the spans of a traced run are kept in ``.erbench_work/traces/``.
See README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".erbench_work")

# rows asked of the generator; README.md ("Input sizes") gives the
# measured wall against size from which these were chosen
SIZES = {"resolve": 20000, "pipeline": 4000, "near_dup": 8000}
GENERATIONS = 3  # corpus generations per run; setup_s counts their median
END_TO_END = {
    "docs_per_s": "docs/s",
    "pair_f1": "ratio",
    "resume_s": "s",
    "catalog_bytes_per_input_byte": "B/B",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def log(msg: str) -> None:
    print(f"erbench: {msg}", flush=True)


def attempt(wl, spark, tracer=None):
    """One run; returns its Outcome, or None when it failed: it raised,
    or its output failed a check."""
    try:
        out = wl.run(spark, tracer)
    except Exception:  # a run that raises is a failed run; keep measuring
        traceback.print_exc()
        return None
    for p in out.problems:
        print(f"erbench: {wl.name}: check failed: {p}", file=sys.stderr, flush=True)
    return None if out.problems else out


def closed_loop(wl, spark, seconds: float, make_tracer=None):
    """Runs back to back until ``seconds`` have passed (at least once).
    Returns (outcomes of passing runs, tracers of passing runs, attempted)."""
    outcomes, tracers, attempted = [], [], 0
    deadline = time.monotonic() + seconds
    while True:
        tracer = make_tracer() if make_tracer else None
        attempted += 1
        out = attempt(wl, spark, tracer)
        if out is not None:
            outcomes.append(out)
            tracers.append(tracer)
        if time.monotonic() >= deadline:
            return outcomes, tracers, attempted


def run_workload(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "entity_resolution_engine_spark")):
        print(
            f"erbench: the engine package is not beside {HERE}; run from a checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from erbench import host

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    settings = host.prepare_env(ROOT, work)
    for k, v in settings.items():
        log(f"setting {k}={v}")
    for k, v in host.spark_conf(work).items():
        log(f"setting {k}={v}")
    regime = host.host_regime()
    for k, v in regime.items():
        log(f"host {k}={v}")

    from erbench import trace, workloads

    wl = workloads.WORKLOADS[args.workload](work, SIZES[args.workload], args.seed)
    log(f"workload {wl.name}: {wl.why}")
    try:
        with host.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = host.start_spark(settings, work)
            started = time.perf_counter() - t0
            generations = []
            for _ in range(GENERATIONS):
                t0 = time.perf_counter()
                wl.generate(spark)  # same seed, same corpus
                generations.append(time.perf_counter() - t0)
            wl.prepare(spark)  # the checks' reference, not timed
            warm_s = wl.warm_up(spark)
            setup_s = started + statistics.median(generations) + warm_s
            input_bytes = wl.input_bytes
            log(
                f"{wl.name}: {wl.n_docs} docs, {input_bytes} input bytes; set-up: session "
                f"{started:.3f} s, corpus {[round(g, 3) for g in generations]} s, "
                f"warm-up {warm_s:.3f} s"
            )
            if args.trace:
                untraced, _, n_u = closed_loop(wl, spark, args.seconds / 2)
                traced, tracers, n_t = closed_loop(
                    wl, spark, args.seconds / 2, lambda: trace.Tracer(spark)
                )
                attempted = n_u + n_t
                passed = untraced + traced
                layer_runs = [t.layer_metrics(o.total_s) for o, t in zip(traced, tracers)]
            else:
                passed, _, attempted = closed_loop(wl, spark, args.seconds)
    finally:
        host.shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)

    failed = attempted - len(passed)
    log(f"{wl.name} failed_share {failed / attempted:.4f} share ({failed} of {attempted} runs)")
    if not (traced if args.trace else passed):
        metrics = {}
    elif args.trace:
        units = trace.metric_units()
        values = {k: statistics.median(r[k] for r in layer_runs) for k in layer_runs[0]}
        values["trace.overhead_s"] = statistics.median(o.total_s for o in traced) - statistics.median(
            o.total_s for o in untraced or traced
        )
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        _write_trace(wl.name, args.seed, tracers, layer_runs, regime)
    else:
        values = {
            "docs_per_s": wl.n_docs / statistics.median(o.total_s for o in passed),
            "pair_f1": statistics.median(o.f1 for o in passed),
            "resume_s": statistics.median(o.resume_s for o in passed),
            "catalog_bytes_per_input_byte": statistics.median(o.out_bytes for o in passed)
            / input_bytes,
            "peak_rss_mb": rss.peak_mb,
            "setup_s": setup_s,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        log(f"{wl.name} runs {len(passed)}, walls {[round(o.total_s, 3) for o in passed]} s")
        log(f"{wl.name} peak RSS by process: {rss.describe_peak()}")
    for k, m in metrics.items():
        log(f"{wl.name} {k} {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        ),
        flush=True,
    )
    return 0


def _write_trace(name, seed, tracers, layer_runs, regime) -> None:
    """Spans of every traced run, written out once at the end."""
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    doc = {
        "workload": name,
        "seed": seed,
        "host": regime,
        "runs": [
            {
                "spans": [
                    {"layer": s.layer, "kind": s.kind, "t0": s.t0, "t1": s.t1, "rows_out": s.rows_out}
                    for s in t.spans
                ],
                "metrics": m,
            }
            for t, m in zip(tracers, layer_runs)
        ],
    }
    path = os.path.join(WORK, "traces", f"{name}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    log(f"spans written to {os.path.relpath(path, ROOT)}")


def run_all(args) -> int:
    """Each workload in a process of its own, one after the other."""
    results, code = {}, 0
    for name in SIZES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            code = proc.returncode or 1
            continue
        results[name] = json.loads(lines[-1])
    print(json.dumps(results), flush=True)
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*SIZES, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
