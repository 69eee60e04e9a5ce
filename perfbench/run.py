"""Layered end-to-end benchmark for affinity-spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the project. Workloads (see
perfbench/README.md): batch, serve_rw, ingest_stream;
``--workload all`` runs each in turn. Inputs are generated from ``--seed``
under ``.perfbench/`` in the checkout; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
The line before it is a ``{"detail": ...}`` object with the run-condition
stamp and the workload's own named metrics. Exits non-zero when any
operation failed or returned a wrong result.
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
WORKLOADS = ("batch", "serve_rw", "ingest_stream")
# files of the project the benchmark drives; without them there is
# nothing to measure
REQUIRED = ("affinity_spark/__init__.py", "__spark_entry__.py", "bench.py",
            "tools/verify_local.py")

END_TO_END = ("setup_s", "p50_ms", "throughput_per_s")
PER_LAYER = (
    "session.start_s", "tables.load_s",
    "registry.build_s", "registry.build_jobs", "registry.py4j_calls",
    "exec.wall_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.task_parked_s", "exec.gc_s",
    "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.spill_bytes",
    "scan.input_rows", "scan.input_bytes",
    "serving_http.server_ms", "serving_http.wait_ms", "gen.lag_ms",
    "serving.prefix_range_ms", "serving.point_get_ms", "serving.upsert_ms",
    "keyed_table.read_ms", "keyed_table.upsert_ms", "keyed_table.conflicts",
    "keyed_table.files", "keyed_table.bytes", "keyed_table.versions",
    "streaming.trigger_ms", "streaming.get_batch_ms", "streaming.planning_ms",
    "streaming.add_batch_ms", "streaming.wal_commit_ms", "streaming.batches",
    "quality_store.admit_ms", "bandindex.admit_ms", "stores.files", "stores.bytes",
    "host.cpus", "host.default_parallelism", "host.steal_pct", "host.load_1m",
    "trace.overhead_frac", "error_rate", "peak_rss_mb",
)
# span layers whose self time within the measured window the traced run
# reports as selftime.<layer>_s
SELF_TIME_LAYERS = ("registry", "exec", "serving", "keyed_table", "streaming",
                    "quality_store", "bandindex")
UNITS = {"throughput_per_s": "1/s", "peak_rss_mb": "MB"}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_frac", "fraction"), ("_pct", "%"), ("error_rate", "fraction"),
                         ("load_1m", "load"), (".bytes", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


def layer_names() -> list[str]:
    return list(PER_LAYER) + [f"selftime.{layer}_s" for layer in SELF_TIME_LAYERS]


class Run:
    """Per-run state: paths, seed, window, tracer and the live session."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 inject: str | None, scale: str) -> None:
        from spans import Tracer

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.inject = inject
        self.scale = scale
        self.tracer = Tracer(enabled=trace)
        self.work = os.path.join(ROOT, ".perfbench", f"run-{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.spark = None
        self.session_start_s = 0.0
        self.phases: dict[str, float] = {}
        self._t_phase = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Close the current phase (wall seconds since the previous mark)."""
        now = time.perf_counter()
        self.phases[phase] = now - self._t_phase
        self._t_phase = now

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def start_session(self):
        """Launch the JVM and the SparkSession with the project's session
        factory."""
        from affinity_spark import get_spark
        from meters import ncpus

        # the JVM reads its scratch dirs from the environment at launch
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{ncpus()}]",
                conf={
                    # the traced run reads stage work volumes from the UI's
                    # REST API; untraced runs keep the project default (off)
                    "spark.ui.enabled": "true" if self.trace else "false",
                    "spark.ui.port": "0",
                    "spark.ui.retainedStages": "40000",
                    "spark.ui.retainedJobs": "40000",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.memory": "2g",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        return self.spark

    def setup(self, fn) -> float:
        """Launch the JVM and session and run ``fn(spark)``, the workload's
        preparation; returns the seconds from launch to ready."""
        t0 = time.perf_counter()
        self.start_session()
        fn(self.spark)
        return time.perf_counter() - t0

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:  # noqa: BLE001
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)
        self.mark("close")


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout and make the
    checkout's package importable by the driver and the python workers."""
    import tempfile

    tmp = os.path.join(ROOT, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ.pop("SPARK_GRAFT_CACHED_PLAN_AQE", None)
    sys.path[:0] = [HERE, ROOT]


def run_one(workload: str, seed: int, seconds: float, trace: bool,
            inject: str | None = None, scale: str = "bench") -> dict:
    import meters

    mod = __import__(workload.split("_")[0])  # batch, serve or ingest
    run = Run(workload, seed, seconds, trace, inject, scale)
    try:
        steal = meters.StealMeter()
        out = mod.run(run)
        cond = meters.run_conditions(run.spark, seed, steal, out.pop("tables", None))
        rss = meters.peak_rss_mb(run.spark)
        if trace:
            run.tracer.unpatch()
            run.tracer.dump(os.path.join(ROOT, ".perfbench", "results",
                                         f"spans-{workload}-{seed}.jsonl"))
    finally:
        run.close()
    attempted, failed = out["attempted"], out["failed"]
    if trace:
        from spans import py4j_call_cost_s

        layers = {name: 0 for name in layer_names()}
        layers.update(out.get("layers", {}))
        layers.update(meters.host_metrics(cond))
        layers["session.start_s"] = run.session_start_s
        book = run.tracer.book_s + run.tracer.py4j_calls() * py4j_call_cost_s()
        layers["trace.overhead_frac"] = book / max(out["traced_wall_s"], 1e-9)
        layers["error_rate"] = failed / max(attempted, 1)
        layers["peak_rss_mb"] = rss
        for layer, s in run.tracer.self_times(*out["window"]).items():
            if layer in SELF_TIME_LAYERS:
                layers[f"selftime.{layer}_s"] = s
        metrics = {k: layers[k] for k in layer_names()}
    else:
        metrics = {k: out[k] for k in END_TO_END}
    return {
        "detail": {"workload": workload, "trace": int(trace), "conditions": cond,
                   "named": out.get("named", {}), "breakdown": out.get("breakdown", {}),
                   "setup_s": out["setup_s"], "session_start_s": run.session_start_s,
                   "peak_rss_mb": rss,
                   "phases_s": run.phases,
                   "errors": out.get("errors", [])[:20]},
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hooks: tiny inputs, and injected faults that must be caught
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench")
    ap.add_argument("--inject", choices=("wrong-hash", "bad-request", "wrong-verdict"))
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the project "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2
    _prepare_env()
    os.makedirs(os.path.join(ROOT, ".perfbench", "results"), exist_ok=True)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    rc = 0
    for name in names:
        res = run_one(name, args.seed, args.seconds, bool(args.trace), args.inject, args.scale)
        with open(os.path.join(ROOT, ".perfbench", "results",
                               f"{name}-{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(res, f, indent=1, default=str)
        sys.stdout.flush()
        print("\n" + json.dumps({"detail": res["detail"]}, default=str))
        print(json.dumps(res["result"]), flush=True)
        rc = rc or (0 if res["result"]["correct"] else 1)
    return rc


if __name__ == "__main__":
    sys.exit(main())
