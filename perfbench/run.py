#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog_serve --seed 1 --seconds 10 --trace 0

Workloads: ``catalog_serve`` (catalog_bench.py) and ``registry_core``
(registry_bench.py). Run from the root of a checkout:
the program is imported from there, and every file the run writes lives
under ``.perfbench_work/`` there and is removed when the run ends.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones listed in BENCHMARK.json; with
``--trace 1`` the run measures its loop untraced, then again traced, and
reports the per-layer ones. The ``#`` lines before it give the host's
state (for telling a noisy host from a regression) and run details.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog_serve", "registry_core")
# A fixed, pre-touched heap: the driver JVM's resident memory then does
# not depend on when the collector chose to grow the heap, so
# peak_rss_mb moves only with memory the program holds outside the heap.
DRIVER_MEM = "1g"
# per-layer metric prefixes measured by registry_core; catalog_serve
# measures every other layer, and both measure "trace."
REGISTRY_LAYERS = ("registry.", "relational.", "llmops.")


def parse(argv: list[str]):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Context:
    """What a workload needs: its inputs, session, tracer and work dir."""

    def __init__(self, args, work: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None
        self.tracer = None
        self.setup_s = 0.0
        self.phases: dict = {}  # set-up details for the report


def start_spark(work: str, cpus: int, trace: bool):
    """The program's own session factory, pinned to local[nproc] and to
    scratch directories inside the work dir."""
    from console_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.master": f"local[{cpus}]",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }
    if trace:
        # keep every job and stage in the status tracker until the end
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    return get_spark("perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def report(values: dict, workload: str, trace: bool) -> dict:
    """The metrics BENCHMARK.json declares, with its units. A per-layer
    metric of a layer this workload does not run reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        registry = name.startswith(REGISTRY_LAYERS)
        idle = trace and not name.startswith("trace.") and registry != (workload == "registry_core")
        if name not in values and not idle:
            raise KeyError(f"{workload} did not measure {name}")
        out[name] = {"value": float(values.get(name, 0)), "unit": m["unit"]}
    return out


def run_workload(ctx, workload: str) -> tuple[dict, dict, dict]:
    """Returns (result, end-to-end values, per-layer values)."""
    import spans

    if workload == "registry_core":
        import registry_bench as bench
    else:
        import catalog_bench as bench
    res = bench.run(ctx)
    e2e = bench.end_to_end(res["untraced"])
    e2e["setup_s"] = ctx.setup_s
    e2e["peak_rss_mb"] = spans.peak_rss_mb()
    layers = {}
    if ctx.trace:
        loop = res["traced"]
        tops = [
            s for s in ctx.tracer.spans
            if s.parent is None and loop["t0"] <= s.start and s.end <= loop["t1"]
        ]
        layers = dict(res["layers"])
        layers["trace.overhead_frac"] = bench.end_to_end(loop)["p50_ms"] / e2e["p50_ms"] - 1.0
        layers["trace.coverage"] = sum(s.dur for s in tops) / loop["busy"]
        keep = os.path.join(ROOT, ".perfbench_work", "spans")
        os.makedirs(keep, exist_ok=True)
        ctx.tracer.dump(os.path.join(keep, f"{workload}-seed{ctx.seed}.jsonl"))
    return res, e2e, layers


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "console_etl_spark")):
        print(f"perfbench: no program sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import spans

    cpus = len(os.sched_getaffinity(0))
    host = {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": list(os.getloadavg()),
        "calib_ms": spans.calib_ms(),
    }
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
    })
    ctx = Context(args, work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cpus, ctx.trace)
        ctx.setup_s = ctx.phases["session_s"] = time.perf_counter() - t0
        ctx.spark = spark
        ctx.tracer = spans.Tracer(spark.sparkContext)
        res, e2e, layers = run_workload(ctx, args.workload)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    host["loadavg_after"] = list(os.getloadavg())
    metrics = report(layers if ctx.trace else e2e, args.workload, ctx.trace)
    detail = {k: v for k, v in e2e.items() if k not in metrics}
    detail.update(ctx.phases, failures=res["failures"])
    print("# host " + json.dumps(host))
    print("# detail " + json.dumps(detail))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
