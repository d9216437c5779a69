#!/usr/bin/env python3
"""Benchmark: one closed-loop client runs a workload's whole pipeline.

    python3 perfbench/run.py --workload harvest_tiles --seed 1 --seconds 5 --trace 0

Run from the root of the checkout under test. The process stages the
workload's seeded inputs, starts the engine's own session on
``local[nproc]``, checks that every engine module comes from this
checkout, then runs passes back to back: one cold pass, then warm passes
until ``--seconds`` have elapsed since the cold pass started (at least one
warm pass). The last stdout line is one JSON object
with the end-to-end metrics (``--trace 0``) or the per-layer metrics of a
traced run (``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# end-to-end metrics in the result line: error_rate travels as attempted /
# failed, and peak_rss_mb (bimodal with the JVM's heap growth) is printed
# and reported per layer as process.peak_rss_mb
E2E_REPORTED = ("setup_s", "first_pass_s", "rows_per_s", "cpu_s")


def _fail(msg: str, code: int) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker it started
    have exited."""
    from pyspark import SparkContext

    from perfbench import measure

    children = [pid for pid in measure.tree_pids() if pid != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)


def _report(name: str, value: float, unit: str, n: int) -> None:
    print(f"  {name:<36} {value:>16.6g} {unit:<8} n={n}")


def main(argv: list[str] | None = None) -> int:
    from perfbench import checks, inputs, isolation, layers, measure, workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import geoharvest_spark  # noqa: F401
    except ImportError as ex:
        return _fail(f"cannot import the engine from {ROOT}: {ex}", 2)
    leaked = isolation.leaks(ROOT)
    if leaked:
        return _fail("engine modules outside the checkout: " + "; ".join(leaked), 3)

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # everything the JVM and Python write goes under the run directory; the
    # JVM's perf-data file would go to /tmp whatever java.io.tmpdir says
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")))
    spark = None
    try:
        t_gen = time.time()
        stage_dir, manifest = inputs.stage(args.workload, args.seed, work)
        gen_s = time.time() - t_gen
        print(f"workload {args.workload} seed {args.seed}")
        for name, digest in manifest["digests"].items():
            print(f"  input {name:<12} sha256:{digest}")
        for k, v in manifest["properties"].items():
            print(f"  property {k} = {v}")

        with measure.RssSampler() as rss:
            from geoharvest_spark.session import get_spark

            nproc = len(os.sched_getaffinity(0))
            conf = {
                "spark.local.dir": os.path.join(run_dir, "local"),
                "spark.ui.showConsoleProgress": "false",
            }
            if args.trace:
                os.makedirs(os.path.join(run_dir, "events"))
                conf.update({
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": os.path.join(run_dir, "events"),
                    "spark.eventLog.compress": "false",
                })
            t0 = time.time()
            spark = get_spark("perfbench", cores=nproc, extra_conf=conf)
            session_start_s = time.time() - t0
            t0 = time.time()
            leaked = isolation.leaks(ROOT, spark)
            py_warm_s = time.time() - t0
            if leaked:
                return _fail("engine modules outside the checkout: " + "; ".join(leaked), 3)
            load, run_pass, rows = workloads.WORKLOADS[args.workload]
            loaded = load(spark, stage_dir)
            tracer = measure.Tracer(spark, enabled=bool(args.trace))

            passes = []
            setup_s = measure.process_age_s() - gen_s
            while True:
                spark.catalog.clearCache()
                tracer.pass_no = len(passes)
                p = workloads.Pass(spark, tracer, os.path.join(run_dir, "out", str(len(passes))),
                                   loaded)
                c0, w0 = measure.tree_cpu_s(), time.time()
                run_pass(p)
                w1, c1 = time.time(), measure.tree_cpu_s()
                p.finish()
                print(f"  pass {len(passes)} wall_s={w1 - w0:.3f} cpu_s={c1 - c0:.2f} "
                      f"failed_ops={len(p.errors)}", flush=True)
                passes.append({"wall_s": w1 - w0, "cpu_s": c1 - c0, "start": w0, "end": w1,
                               "digests": p.digests, "errors": p.errors,
                               "files_written": p.files_written, "bytes_written": p.bytes_written})
                if len(passes) == 1:
                    reference = checks.reference_failures(args.workload, args.seed, stage_dir,
                                                          manifest, p)
                elif sum(ps["wall_s"] for ps in passes) >= args.seconds:
                    break  # the window sums pass times; checks are not in it
            leaked = isolation.leaks(ROOT, spark)
            if leaked:
                return _fail("engine modules outside the checkout: " + "; ".join(leaked), 3)
            _stop(spark)
            spark = None

        attempted = failed = 0
        first = passes[0]["digests"]
        for i, ps in enumerate(passes):
            for op, d in ps["digests"].items():
                attempted += 1
                bad = d is None or d != first.get(op) or op in reference
                failed += bad
                if bad:
                    why = ps["errors"].get(op) or reference.get(op) or f"{d} != pass 0 {first.get(op)}"
                    print(f"FAILED pass {i} {op}: {why}", file=sys.stderr)
        for op, d in sorted(first.items()):
            print(f"  digest {op:<22} rows={d[0] if d else None} hash={d[1] if d else None}")

        warm = passes[1:]
        wall = [ps["wall_s"] for ps in warm]
        e2e = {
            "setup_s": (setup_s, "s", 1),
            "first_pass_s": (passes[0]["wall_s"], "s", 1),
            "rows_per_s": (rows / _median(wall), "rows/s", len(wall)),
            "cpu_s": (_median([ps["cpu_s"] for ps in warm]), "CPU-s", len(warm)),
            "peak_rss_mb": (rss.peak_kb / 1024, "MB", 1),
            "error_rate": (failed / attempted, "ratio", attempted),
        }
        print("  peak memory by process (MB): " + ", ".join(
            f"{comm} {kb / 1024:.0f}" for comm, kb in sorted(rss.peak_parts, key=lambda x: -x[1])))
        print(f"end-to-end ({len(warm)} warm passes of {rows} input rows, local[{nproc}])")
        for name, (v, unit, n) in e2e.items():
            _report(name, v, unit, n)
        if args.trace:
            t0 = time.time()
            event_log = measure.read_event_log(os.path.join(run_dir, "events"))
            metrics = layers.per_layer(tracer.spans, event_log, passes, nproc,
                                       session_start_s, py_warm_s, rss.peak_kb / 1024)
            print(f"per-layer (traced; median over {len(warm)} warm passes; "
                  f"{len(tracer.spans)} spans, {len(event_log['jobs'])} jobs, "
                  f"event log read in {time.time() - t0:.2f} s)")
            for name, (v, unit) in metrics.items():
                _report(name, v, unit, len(warm))
            out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                   if k in layers.REPORTED}
        else:
            out = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()
                   if k in E2E_REPORTED}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run cleanup
    sys.path[0] = ROOT  # import the engine and perfbench from the checkout root
    os.chdir(ROOT)
    sys.exit(main())
