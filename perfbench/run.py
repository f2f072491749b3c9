#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload bulk_reindex|catalog_iter \
        --seed N --seconds S --trace 0|1

Builds the program from source on first use (perfbench/build.py), makes the
workload's inputs from the seed, runs the workload in one JVM sized for four
cores, checks the outputs, and prints a report whose last line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run records a span
around every call into the program and the metrics are the per-layer ones.
See perfbench/README.md for what each metric means on each workload.
"""
import argparse
import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

# A run must end within 180 s; the build (first run only) is not counted.
RUN_TIMEOUT_S = 170


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def oracle_check(tables_dir, outputs_dir):
    """Compares every written query result with its DuckDB oracle under the
    tolerance rules of tools/check_oracle.py. Returns (checked, failures)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(tables_dir, outputs_dir)
    lines = buf.getvalue().splitlines()
    checked = [l for l in lines if l.startswith(("OK ", "FAIL ", "SKIP "))]
    failures = [l for l in checked if not l.startswith("OK ")]
    return len(checked), failures


def main():
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.ensure_built()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    started = time.time()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        main_args = ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--work", work, "--result", os.path.join(work, "result.json")]
        tables_dir = os.path.join(work, "tables")
        if args.workload == "catalog_iter":
            import tables
            t0 = time.time()
            tables.generate(tables_dir, args.seed)
            main_args += ["--tables", tables_dir, "--pre-setup-s", str(time.time() - t0)]
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            try:
                proc = subprocess.run(build.java_command(classpath, main_args, work),
                                      stdout=log, stderr=subprocess.STDOUT,
                                      timeout=RUN_TIMEOUT_S - (time.time() - started),
                                      cwd=work)
            except subprocess.TimeoutExpired:
                proc = None
        # the harness log of the latest run of each workload stays beside
        # the work directories for reading after the run
        shutil.copy(log_path, os.path.join(ROOT, ".bench_work", f"log-{args.workload}.txt"))
        if proc is None:
            print("perfbench: workload timed out", file=sys.stderr)
            return 1
        result_path = os.path.join(work, "result.json")
        if proc.returncode != 0 or not os.path.isfile(result_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            print(f"perfbench: workload exited with {proc.returncode}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            result = json.load(f)
        attempted, failed = result["attempted"], result["failed"]
        failures = list(result["failures"])
        if args.workload == "catalog_iter":
            checked, bad = oracle_check(tables_dir, os.path.join(work, "outputs"))
            attempted += checked
            failed += len(bad)
            failures += bad
        if args.trace:
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(ROOT, ".bench_work", f"trace-{args.workload}.json"))

        kind = "per_layer" if args.trace else "end_to_end"
        measured = result[kind]
        metrics, absent = {}, []
        for m in spec[kind]:
            # a layer the workload does not exercise reads 0; an end-to-end
            # metric must be measured
            value = measured.get(m["name"])
            if value is None and args.trace:
                value = 0.0
            if value is None:
                absent.append(m["name"])
                continue
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        if absent:
            failed += 1
            failures.append(f"metrics not measured: {absent}")

        for f in failures:
            print(f"FAILED {f}")
        print(f"jvm flags: {result['jvm_flags']}")
        # steadiness readings, on every run: they explain spread
        for name in ("host.steal_frac", "ops.position_drift"):
            print(f"{args.workload} {name} = {result['per_layer'].get(name, 0.0):.6g}")
        # the tracing overhead: the traced run's own end-to-end numbers,
        # read beside an untraced run of the same workload and seed
        if args.trace:
            for name, value in result["end_to_end"].items():
                print(f"traced end-to-end {name} = {value:.6g}")
        for name, m in metrics.items():
            print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
        print(f"{args.workload} failed_frac = {failed / max(attempted, 1):.6g} ratio "
              f"({failed} of {attempted} operations)")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
