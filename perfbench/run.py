"""Benchmark entry point.

    python3 perfbench/run.py --workload extract|curate \\
        --seed N --seconds S --trace 0|1

Runs from the root of a checkout of the repository at ``local[nproc]``
in one driver process. Set-up is the session start plus the median of
several writes of the seeded input. An untimed warm-up iteration
follows; then whole iterations repeat while they fit in ``--seconds``
seconds (at least two), and the run reports their median. Outputs are checked after the timed
region. ``--trace 1`` adds one traced iteration that records spans and
Spark's per-plan-node SQL metrics, and prints the per-layer metrics
instead of the end-to-end ones. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pdf_parser_python_spark"

#: set-ups per run; set-up time is their median
SETUP_REPS = 3

#: timed iterations at least: single iterations differ by about 10 % on
#: a shared 4-core host, and the median of two halves that noise
MIN_ITERATIONS = 2


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]}
                 for k in ("end_to_end", "per_layer"))


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("extract", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _import_package():
    """The package from this checkout, or exit without a result."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        sys.exit(f"perfbench: no {PACKAGE}/ under {ROOT}; run from a checkout")
    sys.path.insert(0, ROOT)
    import pdf_parser_python_spark  # noqa: F401


def main(argv=None) -> int:
    started = time.perf_counter()
    args = _args(argv)
    if args.seed < 0:
        sys.exit("perfbench: --seed must be >= 0")
    end_to_end, per_layer_units = _metric_units()
    _import_package()
    from perfbench import host
    from perfbench.sqlmetrics import job_ids
    from perfbench.trace import Tracer
    from perfbench.workloads import (
        WORKLOADS, OperationFailed, Probe, TracedProbe,
    )

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", run_id)
    shutil.rmtree(work, ignore_errors=True)
    wl = WORKLOADS[args.workload](work, args.seed)
    probe = Probe()
    lines: list[str] = []
    per_layer: dict[str, float] = {}
    jobs_seen: list[int] = []
    spark = None
    phases: dict[str, float] = {}
    mark = [started]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - mark[0]
        mark[0] = now

    def new_jobs(before: list[int]) -> int:
        last = max(before, default=-1)
        return len([j for j in job_ids(spark) if j > last])

    try:
        spark = host.start_session(ROOT, work)
        session_s = time.perf_counter() - started
        input_s = []
        for _ in range(SETUP_REPS):
            shutil.rmtree(wl.input_dir, ignore_errors=True)
            t0 = time.perf_counter()
            wl.setup(spark)
            input_s.append(time.perf_counter() - t0)
        wl.describe_input(spark)
        phase("setup")

        # untimed: the first iteration pays Python worker imports, plan
        # code generation and the JVM's compilation of the hot paths
        docs = wl.docs(spark)
        wl.prepare()
        t0 = time.perf_counter()
        wl.iterate(spark, wl.warm_docs(docs), Probe())
        warmup = time.perf_counter() - t0
        wl.finish(spark, Probe())
        phase("warm-up")

        walls: list[float] = []
        steal0 = host.cpu_steal_ticks()
        with host.RssSampler() as rss:
            begin = time.perf_counter()
            # start an iteration only if it should end inside the window,
            # so the count does not flip when a wall sits near --seconds
            while len(walls) < MIN_ITERATIONS or (
                    time.perf_counter() - begin + statistics.median(walls)
                    <= args.seconds):
                wl.prepare()
                before = job_ids(spark)
                t0 = time.perf_counter()
                try:
                    wl.iterate(spark, docs, probe)
                except OperationFailed:
                    break
                walls.append(time.perf_counter() - t0)
                jobs_seen.append(new_jobs(before))
                wl.finish(spark, probe)
        steal1 = host.cpu_steal_ticks()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        if not walls:
            raise RuntimeError(f"no iteration completed: {probe.errors}")
        wall = statistics.median(walls)
        phase("measure")

        for name, ok, detail in wl.checks(spark):
            probe.count(1, 0 if ok else 1, f"check {name}")
            lines.append(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
        phase("checks")

        if args.trace:
            tracer = Tracer(run_id)
            traced = TracedProbe(spark, tracer)
            wl.prepare()
            with traced.call(f"{wl.name}.iteration"):
                wl.iterate(spark, docs, traced)
            root = tracer.named(f"{wl.name}.iteration")[0]
            per_layer.update(traced.engine(root))
            wl.finish(spark, traced)
            wl.traced_extra(spark, traced)
            per_layer.update(wl.layers(spark, traced))
            per_layer["trace.overhead_s"] = root.seconds - wall
            same = per_layer["spark.jobs"] == jobs_seen[-1]
            probe.count(1, 0 if same else 1, "check: SQL metrics reader adds no job")
            lines.append(f"check {'ok  ' if same else 'FAIL'} reading SQL metrics "
                         f"adds no Spark job: {per_layer['spark.jobs']} traced vs "
                         f"{jobs_seen[-1]} untraced jobs")
            spans_path = os.path.join(ROOT, ".perfbench", f"spans-{run_id}.jsonl")
            tracer.write(spans_path)
            lines.append(f"spans written to {os.path.relpath(spans_path, ROOT)}")
            lines.append(f"traced wall {root.seconds:.3f} s, untraced median "
                         f"{wall:.3f} s, overhead {root.seconds - wall:.3f} s")
            phase("trace")
    finally:
        host.stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)
    phase("teardown")

    e2e = {
        "setup_s": session_s + statistics.median(input_s),
        "docs_per_s": wl.n_docs / wall,
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    report = {k: (v, end_to_end[k]) for k, v in e2e.items()}
    report.update(wl.report(wall, probe))
    report["failed_frac"] = (probe.failed / probe.attempted, "ratio")

    print(f"workload {wl.name} seed {args.seed} at local[{host.nproc()}], "
          f"driver {host.driver_memory_mb()} MiB")
    print(f"input: {wl.n_docs} docs, {wl.n_spans} spans, "
          f"{wl.input_bytes} parquet bytes")
    print(f"set-up (s): imports and session start {session_s:.3f}, input writes "
          f"{', '.join(f'{s:.3f}' for s in input_s)}")
    print(f"warm-up iteration (s): {warmup:.3f}")
    print(f"iterations (s): {', '.join(f'{w:.3f}' for w in walls)}; "
          f"jobs per iteration: {jobs_seen}; CPU steal {steal:.1%}")
    print("phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
    for name, ws in probe.walls.items():
        print(f"call {name} (s): {', '.join(f'{w:.3f}' for w in ws)}")
    for line in lines + probe.errors:
        print(line)
    for name, (value, unit) in report.items():
        print(f"{name} = {value:.6g} {unit}")
    if args.trace:
        for name, unit in per_layer_units.items():
            print(f"{name} = {per_layer.get(name, 0.0):.6g} {unit}")
        metrics = {k: {"value": float(per_layer.get(k, 0.0)), "unit": u}
                   for k, u in per_layer_units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end.items()}
    print(json.dumps({
        "correct": probe.failed == 0,
        "attempted": probe.attempted,
        "failed": probe.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
