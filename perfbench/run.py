"""oboyu_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest|query --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Run from the repository root. With ``--trace 0`` the last stdout line
carries the end-to-end metrics; with ``--trace 1`` the same workload
runs with the layer wrappers installed (perfbench/spans.py) and the
line carries the per-layer metrics. ``--workload all`` runs both
workloads and prints every end-to-end metric under its workload's
name, one per line. Everything the run writes stays
under ``.perfbench_work/`` in the current directory and is removed at
exit. See perfbench/README.md for the workloads and metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager

ROOT = os.getcwd()
sys.path.insert(0, ROOT)  # the engine package and perfbench itself



class Context:
    def __init__(self, spark, work: str, seed: int, seconds: float,
                 cores: int, tracer) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.cores, self.tracer = seconds, cores, tracer
        self.untimed_s = 0.0
        self.t_start = time.perf_counter()

    def peak_rss(self) -> float:
        """Peak RSS so far of this process and its descendants, MB."""
        from perfbench.host import tree_peak_rss_mb

        return tree_peak_rss_mb(os.getpid())

    def log(self, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.t_start:7.2f}s {what}",
              file=sys.stderr, flush=True)

    @contextmanager
    def untimed(self):
        """Oracle and bookkeeping work: kept out of every metric."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0


def _start_spark(work: str, cores: int):
    from oboyu_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every file the JVM writes stays in the work dir: shuffle/spill
    # (SPARK_LOCAL_DIRS wins over spark.local.dir), java.io.tmpdir, and
    # no hsperfdata file under /tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return get_spark(
        app_name="perfbench", cores=cores, driver_memory="4g",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
    )


def _stop_spark(spark) -> list[int]:
    """Stop Spark and its JVM; returns pids that outlived the wait."""
    from pyspark import SparkContext

    from perfbench.host import descendants, wait_gone

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = [proc.pid, *descendants(proc.pid)] if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    return wait_gone(pids, 30)


WORKLOADS = ("ingest", "query")


def run_all(args) -> int:
    """``--workload all``: each workload in its own process, then one
    line with every workload's named metrics."""
    import subprocess

    named, rc = {}, 0
    for w in WORKLOADS:
        out = subprocess.run(
            [sys.executable, __file__, "--workload", w, "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, timeout=600)
        rc = rc or out.returncode
        for line in out.stdout.splitlines():
            if line.startswith("named "):
                named.update({f"{w}.{k}": v
                              for k, v in json.loads(line[6:]).items()})
    for k, v in named.items():
        print(f"{k:40s} {v['value']:14.6g} {v['unit']}")
    return rc


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)

    try:
        import oboyu_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    from perfbench import host, workloads

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp-py")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    # the session's synthetic JIT warmup is left off: each workload's
    # set-up runs a real build first, which warms the same machinery on
    # the engine's own code paths and is counted in setup_s
    os.environ["OBOYU_SPARK_NO_WARM"] = "1"

    context = {"loadavg_before": host.loadavg(),
               "bw_gbps_before": host.bandwidth_gbps(), "cores": cores}
    steal0, total0 = host.cpu_times()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, cores)
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from perfbench.spans import Tracer

            tracer = Tracer(spark, os.path.join(work, "kernels"))
            tracer.install()
        ctx = Context(spark, work, args.seed, args.seconds, cores, tracer)
        res = getattr(workloads, args.workload)(ctx)
        res.setup_s += session_s
        if tracer:
            tracer.uninstall()
    finally:
        leftover = _stop_spark(spark) if spark is not None else []
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    steal1, total1 = host.cpu_times()
    context.update({"cpu_steal_share": round(
                        (steal1 - steal0) / max(total1 - total0, 1), 4),
                    "loadavg_after": host.loadavg(),
                    "bw_gbps_after": host.bandwidth_gbps(),
                    "oracle_and_checks_s": round(ctx.untimed_s, 3)})
    if leftover:
        print(f"perfbench: processes still alive after stop: {leftover}",
              file=sys.stderr)
        return 3

    res.metrics["setup_s"] = (res.setup_s, "s")
    res.metrics["peak_rss_mb"] = (res.peak_rss_mb, "MB")
    res.named.update({"setup_s": (res.setup_s, "s"),
                      "peak_rss_mb": (res.peak_rss_mb, "MB"),
                      "error_rate": (res.failed / res.attempted, "ratio")})
    res.layers["session.start_s"] = (session_s, "s")
    for p in res.problems[:20]:
        print(f"perfbench: WRONG: {p}", file=sys.stderr)
    print("context " + json.dumps(context))
    print("named " + json.dumps(
        {k: {"value": v, "unit": u} for k, (v, u) in res.named.items()}))
    # metric names and units: BENCHMARK.json at the repository root;
    # a layer the workload does not exercise reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.trace:
        metrics = {m["name"]: {"value": res.layers.get(m["name"], (0.0,))[0],
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res.metrics[m["name"]][0],
                               "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": not res.problems, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
