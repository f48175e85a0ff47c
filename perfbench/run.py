"""Repo benchmark: three seeded closed-loop workloads over the package.

    python3 perfbench/run.py --workload ingest_daily --seed 1 --seconds 40 --trace 0

Run from the checkout root. Each workload times a fixed op sequence;
``--seconds`` only caps it on a host far slower than the one it was
sized on. The last stdout line is one JSON object
(``correct``, ``attempted``, ``failed``, ``metrics``): with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer ones, both as
BENCHMARK.json lists them. A traced run also writes its spans, per-layer
self times and tracing overhead to
``perfbench/_runs/trace-<workload>-s<seed>.json``. The line before the
result is the run record. Exits 1 when any op raised or disagreed with the
workload's model. See perfbench/README.md for the metric pairing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = os.path.join(ROOT, "perfbench", "_runs")

#: driver heap unless SPARK_DRIVER_MEMORY says otherwise. With the
#: package's own default (16g) the driver JVM grew past 8 GB of RSS on
#: these few hundred MB of data (4-core, 16 GB host); with 2g it still
#: settled anywhere between 1.7 and 2.8 GB from run to run on the same
#: work. A 1g heap holds the workloads and fills the same way on every
#: run. The heap size is in every run record.
DRIVER_MEMORY = "1g"
#: how often the process tree is sampled for RSS and worker CPU
SAMPLE_PERIOD_S = 0.05


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "aws_seismic_data_pipeline_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"  # the benchmark may run from an exported tree


def _launch(run_dir: str, workload: str):
    """SparkSession on local[$SPARK_GRAFT_CPUS], every scratch path
    inside ``run_dir``, and the checkout root on the Python workers'
    path so functions pickled by reference (the ingest transport)
    import there."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    from aws_seismic_data_pipeline_spark.session import get_spark

    return get_spark(
        app_name=f"perfbench-{workload}",
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest_daily", "table_mixed", "llm_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # the program under test comes from this checkout, nowhere else
    if not os.path.isdir(os.path.join(ROOT, "aws_seismic_data_pipeline_spark")):
        print(f"no aws_seismic_data_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    import pyarrow
    import pyspark

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    from perfbench import workloads
    from perfbench.harness import Harness
    from perfbench.meter import ProcSampler, host_record

    os.makedirs(RUNS, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=RUNS)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "commit": _commit(),
        "source_digest": _source_digest(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "host_start": host_record(),
    }
    spark = None
    try:
        with ProcSampler(os.getpid(), period_s=SAMPLE_PERIOD_S) as procs:
            cpu0, t0 = procs.tree_cpu_s(), time.perf_counter()
            spark = _launch(run_dir, args.workload)
            session_s = time.perf_counter() - t0
            session_cpu_s = procs.tree_cpu_s() - cpu0
            record["SPARK_GRAFT_CPUS"] = os.environ["SPARK_GRAFT_CPUS"]
            record["master"] = spark.sparkContext.master
            record["driver_memory"] = spark.sparkContext.getConf().get("spark.driver.memory")
            h = Harness(spark, trace=bool(args.trace), procs=procs)
            wl = workloads.WORKLOADS[args.workload](h, args.seed, run_dir)
            cpu0, t0 = procs.tree_cpu_s(), time.perf_counter()
            wl.build()
            build_s = time.perf_counter() - t0
            build_cpu_s = procs.tree_cpu_s() - cpu0
            with h.cycle(-1):  # the same untimed warm-up ops on every run
                wl.warm_up()
            warm_s = sum(o["seconds"] for o in h.ops)
            warm_cpu_s = sum(o["cpu_s"] for o in h.ops)
            h.timed_loop(wl.CYCLES, args.seconds, wl.cycle)
            t0 = time.perf_counter()
            space_amp = wl.finish()
            record["finish_s"] = time.perf_counter() - t0
        record["setup"] = {
            "session_s": session_s,
            "build_s": build_s,
            "warm_up_s": warm_s,
            "session_cpu_s": session_cpu_s,
            "build_cpu_s": build_cpu_s,
            "warm_up_cpu_s": warm_cpu_s,
        }
        attempted, failed = h.attempted_failed()
        if args.trace:
            h.final("session.start_s", session_s)
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
            metrics = h.per_layer(list(units))
            trace_path = os.path.join(RUNS, f"trace-{args.workload}-s{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump(
                    {
                        "record": record,
                        "self_times": h.tracer.self_times(),
                        "trace_overhead_ratio": metrics["trace.overhead_ratio"],
                        "ops": h.ops,
                        "spans": [vars(s) for s in h.tracer.spans],
                    },
                    f,
                )
            record["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            metrics, details = h.end_to_end(space_amp)
            metrics["setup_s"] = session_cpu_s + build_cpu_s + warm_cpu_s
            metrics["peak_rss_mb"] = procs.peak_rss / 1e6
            record["peak_rss_parts"] = procs.peak_parts
            record.update(details)
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    record["host_end"] = host_record()
    print(json.dumps({"run_record": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
