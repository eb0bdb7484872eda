"""One benchmark run: one workload, one seed, one JSON result line.

Started by ``perfbench/run.py``, which runs this file in a session of its
own and stops whatever it leaves behind:

    python3 perfbench/run.py --workload backlog_drain --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs the same measurement, then again with spans around
every layer call, and prints the per-layer metrics (layers the workload
does not touch read 0). The last stdout line is the result
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the self-describing record (seed, versions, host) that is also appended
to ``.perfbench_runs/results.jsonl``. The exit code is non-zero when any
output check failed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
sys.path.insert(0, ROOT)

# Importing the workloads imports the program; outside a full checkout
# this raises before any Spark process starts.
from perfbench import dedup_job, streaming, warehouse  # noqa: E402
from perfbench.common import Ctx, median  # noqa: E402
from perfbench.rss import RssSampler  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from streaming_data_pipeline_spark.session import get_spark  # noqa: E402


def drain_probes(ctx: Ctx, untraced: dict[str, float]) -> None:
    streaming.transform_layers(ctx)
    dedup_job.layers(ctx)
    # last: it replaces the session with a local[1] one
    ctx.layer["pipeline.parallel_speedup"] = single_core_baseline(ctx) / untraced["latency_p50_s"]


def live_probes(ctx: Ctx, untraced: dict[str, float]) -> None:
    warehouse.layers(ctx)


# workload -> (set-up, measurement, layer probes of the traced run). The
# probes of layers no end-to-end workload loads (warehouse plans, dedup)
# ride on the traced run whose time budget they fit.
WORKLOADS = {
    "ingest_live": (streaming.live_setup, streaming.live_measure, live_probes),
    "backlog_drain": (streaming.drain_setup, streaming.drain_measure, drain_probes),
}

DRIVER_MEMORY = "2g"
# A fixed heap and young generation: G1 otherwise sizes both as it goes,
# differently in each run.
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -Xmn768m"


def process_start_time() -> float:
    """Wall-clock start of the benchmark: the supervisor's start when it
    passes one in ``PERFBENCH_START``, else this process's, from /proc."""
    if os.environ.get("PERFBENCH_START"):
        return float(os.environ["PERFBENCH_START"])
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        boot = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return boot + ticks / os.sysconf("SC_CLK_TCK")


def confine_to(workdir: str) -> None:
    """Point every temp and scratch location of Python, the JVMs and Spark
    into ``workdir``; no JVM writes /tmp/hsperfdata either."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session(workdir: str, cpus: int):
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_confs={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": JVM_OPTIONS,
        },
    )


def cpu_steal_s() -> float:
    """Host CPU time stolen from this machine so far (all CPUs), from
    /proc/stat; the difference over a run shows a noisy neighbour."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def source_digest() -> str:
    """sha256 over the program's source files, for checkouts without git."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for base, _, names in os.walk(os.path.join(ROOT, "streaming_data_pipeline_spark")):
        files += [os.path.join(base, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def single_core_baseline(ctx: Ctx, drains: int = 2) -> float:
    """Median backlog drain on a local[1] session (the parallel-speedup
    base); replaces the session the run was using. The JVM, and so its
    compiled code, outlives the session: no warm-up drain is needed."""
    ctx.spark.stop()
    ctx.spark = start_session(ctx.workdir, 1)
    streaming.stream_confs(ctx.spark)
    walls = [streaming.drain_once(ctx, f"single-{i}")[0] for i in range(drains)]
    return median(walls)


def main() -> int:
    proc_start = process_start_time()
    steal0 = cpu_steal_s()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    workdir = os.path.join(RUNS_DIR, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    confine_to(workdir)
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    ctx = Ctx(args.seed, args.seconds, workdir, Tracer(run_id, enabled=False))
    setup, measure, probes = WORKLOADS[args.workload]

    rss = RssSampler().start()
    try:
        ctx.spark = start_session(workdir, cpus)
        ctx.layer["setup.session_s"] = time.time() - proc_start
        w0 = time.time()
        setup(ctx)
        ctx.layer["setup.warmup_s"] = time.time() - w0
        setup_s = time.time() - proc_start

        e2e = measure(ctx, "untraced")
        if args.trace:
            ctx.tracer.enabled = True
            traced = measure(ctx, "traced")
            probes(ctx, e2e)
            ctx.tracer.enabled = False
            ctx.layer["trace.overhead_ratio"] = traced["latency_p50_s"] / e2e["latency_p50_s"] - 1.0
            ctx.layer["trace.spans"] = float(len(ctx.tracer.spans))
        record = {
            "git_commit": git_commit(),
            "source_digest": source_digest(),
            "seed": args.seed,
            "nproc": cpus,
            "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "shuffle_partitions": ctx.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": DRIVER_MEMORY,
            "jvm_options": JVM_OPTIONS,
            "pyspark": ctx.spark.version,
            "java": ctx.spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        ctx.layer["harness.peak_rss_mb"] = rss.stop()
        shutil.rmtree(workdir, ignore_errors=True)

    if args.trace:
        metrics = {m["name"]: {"value": ctx.layer.get(m["name"], 0.0), "unit": m["unit"]} for m in spec["per_layer"]}
        os.makedirs(os.path.join(RUNS_DIR, "spans"), exist_ok=True)
        ctx.tracer.write(os.path.join(RUNS_DIR, "spans", f"{run_id}.jsonl"))
    else:
        values = dict(e2e, setup_s=setup_s)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    correct = ctx.failed == 0 and ctx.attempted > 0
    record.update(
        workload=args.workload,
        seconds=args.seconds,
        trace=args.trace,
        wall_s=time.time() - proc_start,
        host_steal_s=cpu_steal_s() - steal0,
        loadavg=os.getloadavg(),
        problems=ctx.problems,
        setup_s=setup_s,
        untraced=e2e,
        metrics={k: v["value"] for k, v in metrics.items()},
    )
    with open(os.path.join(RUNS_DIR, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": correct, "attempted": ctx.attempted, "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
