"""Benchmark entry point.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 16 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed under ``.perfbench_work/``, runs the program on them, checks every
output, prints a table of metrics and, as the last line of standard output,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` --
the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. ``--workload all`` runs both workloads one after the
other, each in its own process. See perfbench/README.md.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ["search_mix", "catalog_batch"]
TIME_LIMIT_S = 170.0
NPROC = len(os.sched_getaffinity(0))  # usable cores, as `nproc` counts them

END_TO_END = [("setup_s", "s"), ("op_cpu_ms", "ms")]


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: Path) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers Spark forks import the program."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path[:0] = [str(ROOT), str(HERE)]


def end_to_end(outcome) -> dict[str, float]:
    plain = [p for p in outcome.passes if not p.traced]
    return {
        "setup_s": outcome.setup_s,
        "op_cpu_ms": 1e3 * sum(p.cpu_s for p in plain) / sum(p.ops for p in plain),
    }


def per_layer(outcome, names: list[tuple[str, str]]) -> dict[str, float]:
    values = dict.fromkeys((n for n, _ in names), 0.0)
    values.update(outcome.layers)
    traced_ops = [op.latency_s for op in outcome.ops if op.traced]
    plain_ops = [op.latency_s for op in outcome.ops if not op.traced]
    values["trace.overhead_op_p50_ms"] = 1e3 * (statistics.median(traced_ops) - statistics.median(plain_ops))
    traced_passes = [p.wall_s for p in outcome.passes if p.traced]
    plain_passes = [p.wall_s for p in outcome.passes if not p.traced]
    values["trace.overhead_pass_s"] = statistics.median(traced_passes) - statistics.median(plain_passes)
    return values


def run_one(args: argparse.Namespace) -> int:
    import procs

    procs.start_watchdog(TIME_LIMIT_S)
    procs.become_subreaper()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    prepare_environment(work)
    try:
        import govgis_nov2023_slim_spatial_server_spark.session  # noqa: F401
    except ImportError as e:  # the checkout does not hold the program
        shutil.rmtree(work, ignore_errors=True)
        print(f"cannot import the program: {e}", file=sys.stderr)
        return 2
    import workloads
    from tracing import format_layer_table, layer_table

    rss = procs.PeakRss().start()
    run = workloads.Run(ROOT, work, args.seed, args.seconds, bool(args.trace))
    try:
        outcome = workloads.WORKLOADS[args.workload](run)
    finally:
        if run.spark is not None:
            procs.stop_spark(run.spark)
        peak = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        run.log("stopped")

    ops = outcome.ops
    print(f"workload {args.workload}  seed {args.seed}  nproc {NPROC}  "
          f"timed ops {len(ops)}  passes {len(outcome.passes)}")
    if args.trace:
        names = workloads.per_layer_names()
        values = per_layer(outcome, names)
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        trace_path = out_dir / f"trace-{args.workload}-{args.seed}.jsonl"
        run.tracer.write(trace_path)
        print(f"spans written to {trace_path.relative_to(ROOT)}")
        print(format_layer_table(layer_table(run.tracer.spans)))
    else:
        names = END_TO_END
        values = end_to_end(outcome)
    values["pass_s"] = statistics.median(p.wall_s for p in outcome.passes if not p.traced)
    values["op_p50_ms"] = 1e3 * statistics.median(op.latency_s for op in outcome.ops if not op.traced)
    values["peak_rss_mb"] = peak
    values["failed_frac"] = outcome.failed / outcome.checked
    extra = [("pass_s", "s"), ("op_p50_ms", "ms"), ("peak_rss_mb", "MB"), ("failed_frac", "ratio")]
    shown = names + [m for m in extra if m not in names]
    for name, unit in shown:
        print(f"  {name:<42} {values[name]:>14.6g} {unit}")
    result = {
        "correct": outcome.failed == 0,
        "attempted": outcome.checked,
        "failed": outcome.failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in names},
    }
    print(json.dumps(result), flush=True)
    return 0


def run_all(args: argparse.Namespace) -> int:
    results = {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            print(f"{name}: exited with {proc.returncode}", file=sys.stderr)
            return 1
        results[name] = json.loads(lines[-1])
    print(json.dumps(results))
    return 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    t0 = time.perf_counter()
    code = run_all(args) if args.workload == "all" else run_one(args)
    print(f"wall {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
