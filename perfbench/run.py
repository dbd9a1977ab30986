"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Starts one local Spark session sized to
this host, stages the workload's seeded inputs in a private directory
under ``.perfbench_tmp/``, measures, checks the outputs, removes the
directory and stops the JVM.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics untraced, the per-layer metrics with
``--trace 1``).  The line before it holds the run's context: host,
versions and workload details.  Exits non-zero, printing no result,
when the engine package is missing or the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


class Context:
    """What a workload needs: session, seed, window, tracer, temp dir."""

    def __init__(self, args, tmp: str):
        from perfbench.trace import Tracer

        self.repo, self.tmp = REPO, tmp
        self.seed, self.seconds = args.seed, args.seconds
        self.trace = bool(args.trace)
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", self.trace)
        self._scale = args.scale
        self.spark = None
        self.session_s = 0.0

    def scale(self, n: int) -> int:
        return max(int(n * self._scale), 1)

    def start_session(self) -> None:
        from perfbench.proc import host_info

        from nearscan_kafka_streams_spark.session import get_spark

        host = host_info()
        # a quarter of the host's memory, capped: local mode runs every
        # task in this JVM and the host is shared
        mem_mb = max(1024, min(4096, host["mem_total_mb"] // 4))
        t = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench",
                master=f"local[{host['nproc']}]",
                shuffle_partitions=host["nproc"],
                extra_conf={
                    "spark.driver.memory": f"{mem_mb}m",
                    "spark.local.dir": f"{self.tmp}/spark-local",
                    "spark.sql.warehouse.dir": f"{self.tmp}/warehouse",
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(1).count()
        self.session_s = time.perf_counter() - t
        self.host = dict(host, driver_memory_mb=mem_mb,
                         spark=self.spark.version,
                         java=self.spark._jvm.System.getProperty("java.version"))

    def stop_session(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input-size multiplier for the benchmark's own smoke tests
    p.add_argument("--scale", type=float, default=1.0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(REPO, "nearscan_kafka_streams_spark")):
        print("perfbench: engine package nearscan_kafka_streams_spark not found "
              f"under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    tmp = os.path.join(REPO, ".perfbench_tmp", f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(tmp)
    # Spark, its Python workers and tempfile users stay inside tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{tmp}/spark-local"
    # no JVM (the launcher included) writes its hsperfdata file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    ctx = Context(args, tmp)
    try:
        ctx.start_session()
        out, layers = workloads.WORKLOADS[args.workload](ctx)
    except Exception:  # noqa: BLE001 -- the run cannot complete: no result
        traceback.print_exc()
        return 1
    finally:
        try:
            ctx.stop_session()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(tmp))
            except OSError:
                pass
    if ctx.trace:
        spans_dir = os.path.join(REPO, ".perfbench_out")
        os.makedirs(spans_dir, exist_ok=True)
        ctx.tracer.write(os.path.join(spans_dir, f"{ctx.tracer.run_id}.spans.jsonl"))
        layers.setdefault("session.start_s", ctx.session_s)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in metric_units("per_layer").items()}
    else:
        metrics = {k: {"value": float(out["metrics"][k]), "unit": u}
                   for k, u in metric_units("end_to_end").items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": bool(args.trace), "host": ctx.host, **out["info"]}))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
