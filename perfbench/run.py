"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload f1_bulk --seed 1 --seconds 16 --trace 0

Run from the root of a checkout.  The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it is the full record of the run, with
provenance; it is also written under ``.perfbench/results/``.
Generated inputs are cached under ``.perfbench/cache/``; scratch data
lives under ``.perfbench/work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

UNITS = {
    "setup_s": "s", "encode_mb_s": "MB/s", "sink_mb_s": "MB/s",
    "decode_mb_s": "MB/s", "encode_x_parquet": "ratio",
    "sink_x_parquet": "ratio", "size_x_parquet": "ratio",
    "read_p50_ms": "ms", "read_p90_ms": "ms", "append_p50_ms": "ms",
    "peak_rss_mb": "MB",
}
# in the record only: a run holds too few reads for a steady p90 (the
# highest percentile with ten samples beyond it needs a hundred reads)
RECORD_ONLY = ("read_p90_ms",)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=None,
                   help="override the workload's row count (smoke tests)")
    return p.parse_args(argv)


def remove_stale_workdirs(base: str) -> None:
    """Scratch data of runs that were killed before they could clean up."""
    if os.path.isdir(base):
        for name in os.listdir(base):
            if not os.path.exists(f"/proc/{name}"):
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def prepare_environment(workdir: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the program from it."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def start_spark(workdir: str):
    from dumpster.datasource import register_dumpster_source
    from dumpster.session import get_spark
    from perfbench import machine
    java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    spark = get_spark("perfbench", cores=machine.cores(), chunk_rows=8192,
                      extra={"spark.driver.memory": machine.driver_memory(),
                             "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                             "spark.driver.extraJavaOptions": java_opts})
    register_dumpster_source(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()    # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dumpster", "__init__.py")):
        print(f"perfbench: no dumpster package under {ROOT}; run from the "
              f"root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import SPECS
    if args.workload not in SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(SPECS)}", file=sys.stderr)
        return 2
    remove_stale_workdirs(os.path.join(STATE, "work"))
    workdir = os.path.join(STATE, "work", str(os.getpid()))
    prepare_environment(workdir)
    try:
        return run(args, SPECS[args.workload], workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def run(args, spec, workdir: str) -> int:
    import dataclasses
    from perfbench import machine
    from perfbench.inputs import Inputs
    from perfbench.layers import per_layer, unit_of
    from perfbench.spans import Tracer
    from perfbench.workloads import Workload
    if args.rows:
        spec = dataclasses.replace(
            spec, rows=args.rows,
            append_rows=max(50, min(spec.append_rows, args.rows // 10)))
    tracer = Tracer()
    setup: dict[str, float] = {}
    with machine.RssSampler() as rss:
        spark = start_spark(workdir)
        try:
            setup["session.start_s"] = time.perf_counter() - T_START
            t0 = time.perf_counter()
            inputs = Inputs(spark, os.path.join(STATE, "cache"), spec.name,
                            spec.rows, spec.append_rows, spec.pool_batches,
                            args.seed, spec.templated)
            setup["input.generate_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl = Workload(spark, spec, inputs, workdir, args.seed, tracer)
            wl.warm_up()
            setup["warmup_s"] = time.perf_counter() - t0
            setup_s = time.perf_counter() - T_START
            wl.loop(args.seconds, trace=bool(args.trace))
            if args.trace:
                metrics = per_layer(wl, setup)
            else:
                metrics = wl.end_to_end()
                metrics["setup_s"] = setup_s
            wl.close()
        finally:
            stop_spark(spark)
    if not args.trace:
        metrics["peak_rss_mb"] = rss.peak / 1e6
    units = {k: UNITS[k] if not args.trace else unit_of(k) for k in metrics}
    rec = wl.rec
    reads = [w for _, _, w in rec.reads]
    record = {
        "workload": spec.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "rows": spec.rows,
        "logical_bytes": round(inputs.base_mb * 1e6),
        "provenance": machine.provenance(ROOT, workdir),
        "input_cache_hit": inputs.cache_hit,
        "error_rate": rec.failed / max(rec.attempted, 1),
        "errors": rec.errors[:20],
        "samples": {"rounds": len(rec.rounds), "bulk": len(rec.encode),
                    "reads": len(reads), "appends": len(rec.appends)},
        "setup": setup,
        "metrics": metrics,
        "units": units,
        "walls_s": {"round": [w for _, w in rec.rounds],
                    "encode": [op[1] for op in rec.encode],
                    "sink": [op[1] for op in rec.sink],
                    "decode": [op[1] for op in rec.decode],
                    "reference": [op[2] for op in rec.encode]},
    }
    if args.trace:
        record["spans"] = tracer.dump()
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{spec.name}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(record, f, indent=1)
    record.pop("spans", None)
    print(json.dumps(record))
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items() if k not in RECORD_ONLY},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
