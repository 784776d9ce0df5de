"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload warehouse_daily --seed 1 --seconds 4 --trace 0

Run from the repository root.  The runner fixes the environment (cores,
driver memory, PYTHONPATH for Python workers, every Spark scratch directory
under ``.perfbench_work/``), generates the inputs from the seed, sets the
session up once from cold (JVM start, package import, ``setup_s``), runs the
workload and prints, as the last stdout line,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  A traced run
also writes its spans and Spark counters to
``.perfbench_work/traces/<workload>-seed<seed>.json``.

Exits non-zero without a result line when the package is missing or the
workload cannot run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "oltp_to_data_warehouse_pipeline_spark"
WORKLOADS = ("warehouse_daily", "cdc_stream")
BASE_SF = 0.01      # scale of the star schema the dashboard queries read
DRIVER_MEM = "2g"   # far below the engine's 16g default; the inputs are small
RSS_PERIOD_S = 0.1  # how often the traced run samples resident memory


class Context:
    """What a workload gets: the session, its tracer, its inputs and the
    failure ledger (``attempted`` / ``failed`` of the result line)."""

    def __init__(self, args, work: str, tracer):
        self.seed, self.seconds = args.seed, args.seconds
        self.work, self.tracer = work, tracer
        self.sf_dir = ""  # the star schema's directory, once generated
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.registry = None
        self.attempted = 0
        self.failed = 0
        self.notes: dict = {}
        self.persisted: list[int] = []
        self.t0 = time.perf_counter()

    def count(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            print(f"perfbench: FAILED {what}", file=sys.stderr)

    def check(self, ok: bool, what: str) -> None:
        self.count(1, 0 if ok else 1, what)

    def note(self, **kv) -> None:
        self.notes.update(kv)

    def log(self, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.t0:7.2f}s {what}", file=sys.stderr, flush=True)


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus its JVM child, from /proc."""

    def __init__(self, pids: list[int]):
        super().__init__(daemon=True)
        self.pids = pids
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))
            self._halt.wait(RSS_PERIOD_S)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024.0


def fix_environment(work: str) -> None:
    """Environment of the engine, set before the JVM starts."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers of the kafkalog source import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        from tracing import STATUS_CONF

        conf.update(STATUS_CONF)
    return conf


def base_tables(cache: str) -> str:
    """The star schema at BASE_SF, generated once per checkout (it does not
    depend on the seed); a marker file written last makes reuse safe."""
    import gen

    out = os.path.join(cache, f"base-sf{BASE_SF}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        gen.write_base_tables(out, BASE_SF)
        Path(out, "_DONE").touch()
    return out


def set_up(ctx: Context, conf: dict) -> float:
    """Import the package, ``session.get_spark`` (which starts the JVM) and
    ``queryset.registry()``: what a user waits for before the first
    operation.  Returns the wall."""
    t0 = time.perf_counter()
    with ctx.tracer.span("session.start", "setup"):
        from oltp_to_data_warehouse_pipeline_spark import session
        from oltp_to_data_warehouse_pipeline_spark.plans import queryset

        ctx.spark = session.get_spark(extra_conf=conf)
        ctx.registry = queryset.registry()
    wall = time.perf_counter() - t0
    ctx.spark.sparkContext.setLogLevel("ERROR")
    return wall


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM child to exit; kill it if it
    does not (a signal that lands inside a gateway call wedges the gateway)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway server exits at end of input
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    sys.path[:0] = [str(HERE), str(ROOT)]
    import importlib

    from tracing import Tracer

    cache = str(ROOT / ".perfbench_work")
    work = os.path.join(cache, f"{args.workload}-{os.getpid()}")
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(args, work, tracer)
    workload = importlib.import_module(args.workload)
    sampler = None
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        fix_environment(work)
        ctx.sf_dir = base_tables(cache)
        setup_s = set_up(ctx, spark_conf(work, tracer.enabled))
        if tracer.enabled:
            from pyspark import SparkContext

            sampler = RssSampler([os.getpid(), SparkContext._gateway.proc.pid])
            sampler.start()
        workload.instrument(tracer)
        ctx.log(f"set up in {setup_s:.2f}s")
        e2e = workload.run(ctx)
        e2e["setup_s"] = setup_s
        ctx.log(f"done {e2e}")
        tracer.restore()
        results = os.path.join(cache, "results", f"{args.workload}-seed{args.seed}.json")
        if tracer.enabled:
            rss_mb = sampler.stop()
            sampler = None
            values = traced_metrics(ctx, workload, e2e, rss_mb, cache, args, results)
            if values.keys() - layer_units.keys():
                raise KeyError(f"not in BENCHMARK.json: {sorted(values.keys() - layer_units.keys())}")
            # a layer the workload does not use reports 0
            metrics = {k: {"value": values.get(k, 0), "unit": u} for k, u in layer_units.items()}
        else:
            os.makedirs(os.path.dirname(results), exist_ok=True)
            Path(results).write_text(json.dumps({"source": source_digest(), "end_to_end": e2e}))
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if sampler is not None:
            sampler.stop()
        tracer.restore()
        try:
            if ctx.spark is not None:
                stop_jvm(ctx.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}))
    return 0


def source_digest() -> str:
    """Hash of the package's and the benchmark's sources: two runs with the
    same digest ran the same code."""
    h = hashlib.sha256()
    for p in sorted([*(ROOT / PACKAGE).rglob("*.py"), *HERE.glob("*.py"), ROOT / "BENCHMARK.json"]):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def tracing_overhead(e2e: dict, untraced_path: str) -> dict:
    """Traced minus untraced end-to-end values, against the untraced run of
    the same workload and seed over the same sources; says why when there
    is none."""
    if not os.path.exists(untraced_path):
        return {"missing": "no untraced run of this workload and seed in this checkout"}
    untraced = json.loads(Path(untraced_path).read_text())
    if untraced.get("source") != source_digest():
        return {"missing": "the untraced run of this workload and seed ran other sources"}
    return {k: e2e[k] - v for k, v in untraced["end_to_end"].items() if k in e2e}


def traced_metrics(ctx: Context, workload, e2e: dict, rss_mb: float,
                   cache: str, args, untraced_path: str) -> dict[str, float]:
    """Per-layer values of a traced run.  ``traced.*`` are the end-to-end
    values measured with tracing on; the trace file also gets the tracing
    overhead (``tracing_overhead``).  Spans, jobs and stage counters go to
    the trace file."""
    import tracing

    jobs, stages = tracing.spark_status(ctx.spark)
    lay = tracing.layers(ctx.tracer.spans, jobs, stages)
    L = lambda name: lay.get(name, tracing.Layer())  # noqa: E731
    cat, build, X, run, qc, up = (L(n) for n in ("catalog.load", "plans.build", "exec", "etl.run", "etl.qc", "upsert"))
    values = {
        "session.start_s": e2e["setup_s"],
        "driver_rss_peak_mb": rss_mb,
        "catalog.load_calls": cat.calls, "catalog.load_s": cat.self_s, "catalog.load_jobs": cat.jobs,
        "plans.build_s": build.self_s, "plans.build_jobs": build.jobs,
        "plans.persisted_rdds_after": max(ctx.persisted, default=0),
        "exec.s": X.self_s, "exec.jobs": X.jobs, "exec.stages": X.stages, "exec.tasks": X.tasks,
        "exec.shuffle_write_bytes": X.shuffle_write_bytes, "exec.shuffle_read_bytes": X.shuffle_read_bytes,
        "exec.spill_bytes": X.spill_bytes,
        "exec.busy_frac": X.run_ms / 1000.0 / (X.wall_s * ctx.cores) if X.wall_s else 0.0,
        "etl.run_s": run.self_s, "etl.qc_s": qc.self_s, "etl.jobs": run.jobs + qc.jobs,
        "warehouse.build_s": L("warehouse.build").self_s,
        "upsert.s": up.self_s, "upsert.jobs": up.jobs,
        "normalizer.infer_s": L("normalizer.infer").self_s,
        "normalizer.normalize_s": L("normalizer.normalize").self_s,
        "traced.op_s": e2e["op_s"], "traced.cycle_s": e2e["cycle_s"],
        "traced.op_p50_s": ctx.notes["op_p50_s"], "traced.op_tail_s": ctx.notes["op_tail_s"],
    }
    measured = [s for s in ctx.tracer.spans if s.phase == "measure"]
    ups = [s for s in measured if s.name == "upsert"]
    values["upsert.buckets_touched"] = sum(s.attrs["buckets_touched"] for s in ups) / max(len(ups), 1)
    values["upsert.write_amp"] = sum(s.attrs["rows_written"] for s in ups) / max(ctx.notes["incoming_rows"], 1)
    values.update(workload.layer_metrics(ctx, measured, lay))

    overhead = tracing_overhead(e2e, untraced_path)
    print(f"perfbench: tracing overhead {overhead}", file=sys.stderr)
    extra = {"workload": args.workload, "seed": args.seed, "end_to_end": e2e, "notes": ctx.notes,
             "per_layer": values, "tracing_overhead": overhead}
    os.makedirs(os.path.join(cache, "traces"), exist_ok=True)
    tracing.dump(os.path.join(cache, "traces", f"{args.workload}-seed{args.seed}.json"),
                 ctx.tracer.spans, jobs, stages, extra)
    return values


if __name__ == "__main__":
    sys.exit(main())
