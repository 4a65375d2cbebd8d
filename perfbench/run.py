"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Run from the repository root. The run pins its own environment (Spark
on local[<cpus>], a JVM heap sized to the host, local dirs and the
warehouse inside a fresh work directory under `.perfbench_runs/`),
generates its inputs from the seed, measures one closed-loop client over
a window whose units of work (query passes or request blocks) are set by
`--seconds`, checks every output outside the timed window, removes the
work directory, and prints one JSON object as the last line of stdout:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. A traced run also writes its spans to
`.perfbench_runs/traces/`. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys

sys.dont_write_bytecode = True

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("queries", "ingest_serve")
RUNS_DIR = ".perfbench_runs"


def pin_environment(work: str) -> None:
    """Everything Spark reads from the environment, set before pyspark
    or the engine is imported; every file the run writes lands in `work`."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap_mb = max(1024, min(4096, ram_mb // 8))
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            # no hsperfdata file under the system temp dir
            f"--driver-java-options \"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData\" "
            "pyspark-shell"
        ),
    })
    os.chdir(work)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ocean_data_pipeline_spark")):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    runs = os.path.join(ROOT, RUNS_DIR)
    work = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)

    from perfbench import workloads as wl
    from perfbench.tracing import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    h = wl.Harness(tracer)
    try:
        with wl.instrument(tracer) if args.trace else contextlib.nullcontext():
            run = wl.run_queries if args.workload == "queries" else wl.run_ingest_serve
            run(h, args.seed, args.seconds, work)
    finally:
        with h.phase("stop"):
            h.stop()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    out = h.out
    if not out.samples:
        print("perfbench: no operation completed; failures: " + json.dumps(out.failures[:5]), file=sys.stderr)
        return 1
    e2e = wl.end_to_end(out)
    report = {
        "workload": args.workload, "seed": args.seed, **wl.summary(out),
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
    }
    metrics = e2e
    if args.trace:
        metrics = wl.per_layer(out, tracer)
        report["layers"] = tracer.layer_summary()
        report["fn_share"] = wl.fn_share(out, tracer)
        jobs: dict[str, dict[str, int]] = {}
        for groups in out.jobs.values():
            for layer, counts in groups:
                row = jobs.setdefault(layer, dict.fromkeys(counts, 0) | {"groups": 0})
                row["groups"] += 1
                for k, v in counts.items():
                    row[k] += v
        report["jobs_by_layer"] = jobs
        os.makedirs(os.path.join(runs, "traces"), exist_ok=True)
        with open(os.path.join(runs, "traces", f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({
                "report": report,
                "spans": [[s.name, s.op, s.parent, s.start, s.end] for s in tracer.spans],
            }, f)
    for failure in out.failures[:20]:
        print(f"perfbench: FAILED {failure}", file=sys.stderr)
    print("perfbench-report " + json.dumps(report))
    print(json.dumps({
        "correct": not out.failures,
        "attempted": out.attempted,
        "failed": len(out.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
