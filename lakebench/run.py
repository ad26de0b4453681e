"""Lakehouse benchmark: one command per workload run.

Usage (from the repository root)::

    python3 lakebench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` under ``.lakebench_tmp/``,
starts Spark on ``local[nproc]``, warms up, measures for ``--seconds``
seconds, checks every output against DuckDB, and prints a human-readable
report followed by one JSON line::

    {"correct": true, "attempted": 28, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the program's entry points are wrapped in spans and the
metrics are the per-layer ones (spans are also written to
``.lakebench_out/``).  See ``README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)



def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric names with their units, as
    ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("dashboard", "medallion", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_environment(tmp: str) -> None:
    """Keep every file Spark and Python write inside ``tmp`` and size the
    session to this machine's cores."""
    import tempfile

    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    # no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData")
    # a fixed-size driver heap, so peak memory does not depend on when the
    # collector chose to grow it
    os.environ["SPARK_SUBMIT_OPTS"] = "-Xms1g"
    tempfile.tempdir = os.path.join(tmp, "tmp")


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its largest waited-for
    child (the Spark JVM), in MiB."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    children = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + children) / 1024.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bakery_big_data_spark")):
        print("lakebench: the program (bakery_big_data_spark/) is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2
    end_to_end, per_layer = declared_metrics()
    from lakebench import workloads
    from lakebench.tracer import NullTracer, Tracer

    tmp = os.path.join(ROOT, ".lakebench_tmp", f"{args.workload}-{os.getpid()}")
    configure_environment(tmp)
    run = workloads.Run(root=ROOT, tmp=tmp, seed=args.seed, seconds=args.seconds,
                        tracer=Tracer() if args.trace else NullTracer())
    try:
        out = workloads.WORKLOADS[args.workload](run)
    finally:
        run.tracer.restore()
        if run.spark is not None:
            workloads.stop_session(run.spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run's temp root is still there

    lat = sorted(out.latencies)
    e2e = {
        "setup_s": out.setup_s,
        "peak_rss_mb": peak_rss_mb(),
        "latency_p50_s": workloads.percentile(lat, 50),
        "latency_p90_s": workloads.percentile(lat, 90),
        "throughput_per_s": out.throughput_per_s,
    }
    report = {
        "setup_s": (out.setup_s, "s"),
        "peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
        "error_rate": (out.failed / max(out.attempted, 1), "ratio"),
        **out.report,
    }
    if args.trace:
        tr = run.tracer
        values = {name: 0.0 for name in per_layer}
        values.update(out.layers)
        values["trace.spans"] = len(tr.spans)
        values["trace.overhead_s"] = tr.bookkeeping_s
        values["trace.latency_p50_s"] = e2e["latency_p50_s"]
        for name in sorted(set(values) - set(per_layer)):
            print(f"lakebench: {name} = {values[name]:.6g} is not declared in "
                  "BENCHMARK.json; not reported", file=sys.stderr)
        metrics = {k: {"value": values[k], "unit": u} for k, u in per_layer.items()}
        os.makedirs(os.path.join(ROOT, ".lakebench_out"), exist_ok=True)
        tr.dump(os.path.join(ROOT, ".lakebench_out",
                             f"spans-{args.workload}-seed{args.seed}.json"))
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end.items()}

    print(f"lakebench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cores={len(os.sched_getaffinity(0))}")
    for name, (value, unit) in report.items():
        shown = f"{value:.6g}" if isinstance(value, float) else value
        print(f"  {name:<24} {shown} {unit}")
    for c in out.checks:
        print(f"  check {c.get('lake', '')}{'/' if 'lake' in c else ''}{c['layer']}: "
              f"{'ok' if c['ok'] else 'MISMATCH'}"
              + (f" rows={c['rows']}" if "rows" in c else "")
              + (f" checksum={c['checksum']}" if "checksum" in c else ""))
    print(json.dumps({
        "correct": out.correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
