"""Repo benchmark: one seeded workload per run, metrics as one JSON line.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 1 --trace 0

Run from the repository root. Each run starts its own Spark session on
``local[nproc]``, writes its seeded inputs under ``.perfbench/`` in the
current directory, and builds the workload's input files and lake copies
three times (the median is ``setup_s``). It then times one pass over the
workload's ops, the first after set-up (a pass outlasts the declared run
time of either workload). That pass's results are checked against
independent oracles and planted truth, outside the timed region, and
their checksums must equal those of the last run with the same workload,
seed and tier.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` sets up once
and traces set-up and the same pass, and prints the per-layer metrics of
the pass: Spark jobs, tasks, time and bytes attributed to each layer
through job tags, self time per layer, the tracer's own time, and the
number of exact counters that differ from the last traced run with the
same seed. Spans and the run fingerprint go to
``.perfbench/runs/``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``. Metric names and units
come from ``BENCHMARK.json``; ``perfbench/catalog.json`` says which
workloads compute each per-layer metric and which end-to-end metric it
should move. A metric's layer is the first part of its name.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
WORKLOADS = ("sql_analytics", "llm_curation")


def _cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: a box-speed reference."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return round(time.perf_counter() - t0, 4)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _prepare_dirs(out_root: str, workload: str) -> str:
    """Keep every file the run writes inside ``out_root``; returns the
    scratch dir, which is removed at exit."""
    work = os.path.join(out_root, "work", f"{workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(out_root, "runs"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers launched by the JVM import the engine from the repo
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp
    return work


def _start_spark(work: str, nproc: int):
    from apache_iceberg_lakehouse_workshop_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # the traced run reads every job back from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def run_pass(workload, tracer) -> dict:
    """One pass over the workload's ops, in a fixed order: in the first
    pass the earliest ops pay the engine's one-time costs, so a shuffled
    order would move those costs between ops from seed to seed."""
    lat: dict[str, float] = {}
    results: dict[str, object] = {}
    t0 = time.perf_counter()
    for op in workload.ops():
        with tracer.span("bench", op.name):
            t1 = time.perf_counter()
            results[op.name] = op.fn()
            lat[op.name] = time.perf_counter() - t1
    wall = time.perf_counter() - t0
    digests = {name: workload.digest(name, r) for name, r in results.items()}
    return {"wall": wall, "lat": lat, "digests": digests, "results": results}


def repeat_mismatches(out_root: str, args, digests: dict[str, str]) -> list[str]:
    """Ops whose result checksum differs from the last run of the same
    workload, seed and tier; records this run's checksums for the next."""
    path = os.path.join(out_root, "runs",
                        f"digests-{args.workload}-seed{args.seed}-{args.tier}.json")
    before = {}
    if os.path.exists(path):
        with open(path) as f:
            before = json.load(f)
    with open(path, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
    return sorted(n for n, d in digests.items() if before.get(n, d) != d)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tier", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is the smoke-test tier")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one checked result (proves the checks bite)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import apache_iceberg_lakehouse_workshop_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from llm_curation import LlmCuration
    from spans import Tracer
    from sql_analytics import SqlAnalytics

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "catalog.json")) as f:
        catalog = json.load(f)["metrics"]

    out_root = os.path.join(os.getcwd(), ".perfbench")
    work = _prepare_dirs(out_root, args.workload)
    nproc = len(os.sched_getaffinity(0))
    load0, probe0 = os.getloadavg(), _cpu_probe()
    t0 = time.perf_counter()
    spark = _start_spark(work, nproc)
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        cls = {"sql_analytics": SqlAnalytics, "llm_curation": LlmCuration}
        wl = cls[args.workload](spark, tracer, args.seed, args.tier, nproc)
        wl.instrument()
        setup_runs = []
        # setup_s is an end-to-end metric: a traced run sets up once
        for rep in range(1 if args.trace else SETUP_REPS):
            t1 = time.perf_counter()
            wl.setup(os.path.join(work, f"setup{rep}"))
            setup_runs.append(time.perf_counter() - t1)
        tracer.set_phase("pass")
        steal0, total0 = _cpu_ticks()
        first = run_pass(wl, tracer)
        steal1, total1 = _cpu_ticks()
        tracer.enabled = False
        problems = wl.check(first["results"], plant_wrong=args.plant_wrong)
        problems += [f"{n}: result differs from the last run with this seed"
                     for n in repeat_mismatches(out_root, args, first["digests"])]
        attempted = len(wl.checked) + len(first["lat"])
        failed = len(problems)
        rss = _vm_hwm_mb("self") + _vm_hwm_mb(
            spark.sparkContext._gateway.proc.pid)
        lat = list(first["lat"].values())
        # geometric mean: every op counts, and no single op's cold cost
        # decides it, unlike a median over a dozen ops
        e2e = {
            "setup_s": statistics.median(setup_runs),
            "pass_s": first["wall"],
            "op_geomean_s": math.exp(statistics.fmean(math.log(v) for v in lat)),
            "input_rows_per_s": wl.input_rows / first["wall"],
            "peak_rss_mb": rss,
        }
        fingerprint = {
            "workload": args.workload, "seed": args.seed, "tier": args.tier,
            "nproc": nproc, "master": f"local[{nproc}]",
            "spark": spark.version, "python": platform.python_version(),
            "loadavg_start": load0, "cpu_probe_start_s": probe0,
            "loadavg_end": os.getloadavg(), "cpu_probe_end_s": _cpu_probe(),
            # CPU time the host gave to other guests while the pass ran: a
            # slow run with a high share was slowed from outside
            "pass_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            "setup_runs_s": setup_runs,
            "op_seconds": first["lat"],
            "problems": problems,
        }
        if args.trace:
            values, unstable = wl.layer_metrics(
                tracer.spans, first, session_start_s, out_root)
            fingerprint["unstable_counters"] = unstable
            for name in unstable:
                print(f"UNSTABLE COUNTER: {name}", file=sys.stderr)
            # a metric this workload should compute must not default to 0
            missing = [m["name"] for m in bench["per_layer"] if m["name"] not in values
                       and args.workload in catalog[m["name"]]["workloads"]]
            if missing:
                raise RuntimeError(f"per-layer metrics not computed: {missing}")
            metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                       for m in bench["per_layer"]}
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in bench["end_to_end"]}
        fingerprint["metrics"] = metrics
        rec = os.path.join(
            out_root, "runs",
            f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
        tracer.dump(rec, {"fingerprint": fingerprint})
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
