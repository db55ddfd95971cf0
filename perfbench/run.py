"""Benchmark of the log pipeline, end to end and per layer.

    python3 perfbench/run.py --workload batch_backfill --seed 1 --seconds 20 --trace 0

runs one workload on a fresh Spark driver and prints, as the last line of
standard output, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics, measured
with tracing off; ``--trace 1`` repeats the same work with Spark's event
log on and reports the per-layer metrics instead, and writes them with
their span detail to ``layers.json``.

    python3 perfbench/run.py --workload all --seed 1 --seconds 20

runs every workload untraced and traced, one child process each, and
prints every end-to-end metric by name and unit plus the tracing overhead.

Run it from the root of a checkout: the package is imported from there
and every file the run writes stays under ``.perfbench_run/`` there.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAMES = ("batch_backfill", "stream_ingest", "table_mixed")

#: the end-to-end metrics every workload reports in its result line
E2E = {
    "ingest_lines_per_s": "1/s",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "output_bytes_per_raw_byte": "ratio",
    "output_files": "count",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
#: end-to-end metrics that exist on some workloads only (results.json)
E2E_SOME = {
    "microbatch_p50_ms": "ms",
    "microbatch_tail_ms": "ms",
    "append_p50_ms": "ms",
    "append_tail_ms": "ms",
    "optimize_s": "s",
    "error_rate": "ratio",
}


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_rewritten"):
        return "bytes"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_ratio", "_share")):
        return "ratio"
    return "count"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def workdir(workload: str, seed: int, trace: int) -> str:
    return os.path.join(ROOT, ".perfbench_run", f"{workload}-s{seed}-t{trace}")


def prepare_process(work: str) -> None:
    """Keep every temp file of this process and its JVM under ``work``."""
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM this run starts (the launcher too): temp files under work,
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM process, and wait for it to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(args) -> int:
    sys.path[:0] = [ROOT, HERE]
    try:
        import aws_logs_parquet_converter_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    pkg = os.path.dirname(os.path.abspath(aws_logs_parquet_converter_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        print(f"perfbench: the package imports from {pkg}, not this checkout", file=sys.stderr)
        return 2
    from spans import Tracer
    from workloads import Run, cleanup, execute, layers

    work = workdir(args.workload, args.seed, args.trace)
    prepare_process(work)
    run = Run(args.workload, args.seed, args.seconds, work, Tracer(bool(args.trace)))
    try:
        execute(run)
    finally:
        stop_jvm(run.spark)
    x = run.extra
    e2e = dict(run.e2e)
    for name in E2E_SOME:
        if name in x:
            e2e[name] = x[name]
    e2e["error_rate"] = run.failed / max(1, run.attempted)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "wall_s": run.wall_s,
        "e2e": e2e,
        "samples": {
            k: x[k]
            for k in x
            if k.endswith(("_tail_pct", "_samples"))
            or k in ("setup_reps_s", "generation_s", "load_s")
        },
    }
    if args.trace:
        per_layer = layers(run)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in per_layer.items()}
        with open(os.path.join(work, "layers.json"), "w") as fh:
            json.dump(
                {
                    "workload": args.workload,
                    "metrics": per_layer,
                    "layers": x["layers_detail"],
                    "spans": [
                        {"id": s.id, "layer": s.layer, "name": s.name, "parent": s.parent,
                         "t0_ms": s.t0, "t1_ms": s.t1}
                        for s in run.tracer.spans
                    ],
                },
                fh,
                indent=1,
            )
    else:
        metrics = {k: {"value": run.e2e[k], "unit": u} for k, u in E2E.items()}
    with open(os.path.join(work, "results.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    with open(os.path.join(work, "truth.json"), "w") as fh:
        json.dump(run.truth.tallies(), fh, indent=1)
    cleanup(run)
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and run.attempted > 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def run_all(args) -> int:
    """Every workload untraced then traced; print the metric table."""
    units = E2E | E2E_SOME
    rows, overhead, ok = {}, {}, True
    for name in NAMES:
        walls = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = res.stdout.strip().splitlines()[-1] if res.stdout.strip() else ""
            if res.returncode != 0 or not last.startswith("{"):
                print(f"perfbench: {name} trace={trace} failed", file=sys.stderr)
                return 1
            out = json.loads(last)
            ok = ok and out["correct"]
            with open(os.path.join(workdir(name, args.seed, trace), "results.json")) as fh:
                detail = json.load(fh)
            walls[trace] = detail["wall_s"]
            if trace == 0:
                rows[name] = detail["e2e"]
        overhead[name] = walls[1] - walls[0]
    print(f"{'metric':28s} {'unit':6s} " + " ".join(f"{n:>15s}" for n in NAMES))
    for metric, unit in units.items():
        cells = []
        for n in NAMES:
            v = rows[n].get(metric)
            cells.append(f"{v:15.4g}" if v is not None else f"{'-':>15s}")
        print(f"{metric:28s} {unit:6s} " + " ".join(cells))
    print(f"{'tracing_overhead_s':28s} {'s':6s} " + " ".join(f"{overhead[n]:15.4g}" for n in NAMES))
    print(
        json.dumps(
            {
                "correct": ok,
                "metrics": {
                    f"{n}.{m}": {"value": v, "unit": units[m]}
                    for n in NAMES
                    for m, v in rows[n].items()
                }
                | {
                    f"{n}.tracing_overhead_s": {"value": overhead[n], "unit": "s"}
                    for n in NAMES
                },
            }
        )
    )
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
