"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_cycle --seed 1 --seconds 15 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, pins the Spark session, runs the timed ops for at least
``--seconds``, checks the outputs, and prints as its last stdout line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics (from
spans and Spark's event log) with ``--trace 1``. The line before it
records the pinned session settings and sample counts. All scratch
files live under ``.bench_tmp/`` and are removed at exit; traced runs
leave their spans in ``.bench_out/``. See README.md in this directory
for the metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from spans import NullTracer, Tracer, attribute, instrument, read_event_log, restore
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, ROOT)

# name -> unit; order as in BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "backfill_line_items_per_s": "1/s",
    "warehouse_bytes_per_input_byte": "ratio",
    "drop_to_mart_s_p50": "s",
    "analyst_query_s_p50": "s",
    "analyst_query_s_p95": "s",
    "dedup_docs_per_s": "1/s",
    "dedup_recall": "ratio",
    "dedup_precision": "ratio",
    "ann_queries_per_s": "1/s",
    "ann_recall_at_10": "ratio",
}
# Metrics a workload does not exercise (its family of layers never runs
# there) are reported as this constant so every run carries every name.
NOT_EXERCISED = 1.0

PIPELINE_LAYERS = (
    "stg_invoices",
    "stg_subscriptions",
    "stg_subscription_updates",
    "invoices",
    "invoice_line_items",
    "subscription_states",
    "deferred_revenue",
    "recognized_revenue",
)
ANALYST_QUERIES = ("total_deferred_asof", "deferred_by_customer", "deferred_trend", "recognized_for_quarter")
SPARK_TOTALS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "input_bytes": "B",
    "shuffle_write_bytes": "B",
    "shuffle_read_bytes": "B",
    "spill_bytes": "B",
    "output_bytes": "B",
}
PER_LAYER = (
    {"session.get_spark_s": "s"}
    | {f"pipeline.layer_s.{n}": "s" for n in PIPELINE_LAYERS}
    | {
        "pipeline.unattributed_s": "s",
        "models.plan_build_s": "s",
        "models.execute_s": "s",
        "incremental.merge_upsert_s": "s",
        "incremental.merge_upsert_calls": "count",
        "incremental.rows_in": "rows",
        "incremental.partitions_touched": "count",
        "incremental.files_written": "count",
        "incremental.bytes_written": "B",
        "incremental.write_amplification": "ratio",
        "incremental.files_per_partition": "ratio",
    }
    | {f"spark.{k}": u for k, u in SPARK_TOTALS.items()}
    | {f"analyst.{q}_s": "s" for q in ANALYST_QUERIES}
    | {
        "analyst.plan_s": "s",
        "analyst.execute_s": "s",
        "analyst.input_bytes": "B",
        "dedup.minhash_lsh_candidates_s": "s",
        "dedup.candidate_pairs": "count",
        "dedup.jaccard_verify_s": "s",
        "dedup.verified_pairs": "count",
        "dedup.verify_yield": "ratio",
        "cluster.connected_components_s": "s",
        "cluster.components_jobs": "count",
        "similarity.centroids_s": "s",
        "similarity.batch_ivf_topk_s": "s",
        "similarity.candidates_per_query": "count",
        "proc.jvm_peak_rss_mb": "MB",
        "proc.python_peak_rss_mb": "MB",
        "tracing.overhead_s": "s",
    }
)

DRIVER_MEMORY = "1g"  # below this box's RAM; the session default is 16g


def peak_rss_mb(pid: int | str) -> float:
    """VmHWM (peak resident set) from /proc, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def session_conf(run_dir: str, event_dir: str | None) -> dict[str, str]:
    """The pinned session settings: bounded driver memory, scratch dirs
    inside the run directory, event log only for traced runs."""
    local = os.path.join(run_dir, "spark-local")
    jtmp = os.path.join(run_dir, "jvm-tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return conf


def source_key() -> str:
    """Hash of the program's and the benchmark's Python sources: the key
    of cached set-up artifacts."""
    h = hashlib.sha256()
    for top in ("stripe_data_pipeline_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


class Context:
    """What a workload sees of the run: the Spark session, its scratch
    dir, the seed and time budget, and the tracer.

    ``new_session()`` replaces the session with one in a freshly
    launched JVM, so an op can be timed cold, as a scheduled job runs.
    In a traced run, ``start_tracing`` installs the wrappers; ``paused()``
    lifts them for untraced work (output checks, the overhead probe)."""

    def __init__(self, run_dir: str, cores: int, seed: int, seconds: float, traced: bool):
        self.run_dir = run_dir
        self.cores = cores
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.event_dir = os.path.join(run_dir, "eventlog") if traced else None
        self.cache_dir = os.path.join(ROOT, ".bench_cache")
        self.source_key = source_key()
        self.conf = session_conf(run_dir, self.event_dir)
        self.spark = None
        self.session_start_s: list[float] = []
        self.jvm_peak_rss_mb = 0.0
        self.tracer = NullTracer()
        self._saved = None

    def open_session(self, counted: bool = True) -> None:
        """Start a session; ``counted=False`` keeps its start time out of
        ``session_start_s`` (the restart after a once-per-checkout build)."""
        from stripe_data_pipeline_spark.session import get_spark

        for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
            del os.environ[k]
        for d in (self.conf["spark.local.dir"], os.path.join(self.run_dir, "jvm-tmp"), self.event_dir):
            if d:
                os.makedirs(d, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = self.conf["spark.local.dir"]
        os.environ["TMPDIR"] = os.path.join(self.run_dir, "jvm-tmp")
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]", shuffle_partitions=self.cores, extra_conf=self.conf
        )
        if counted:
            self.session_start_s.append(time.perf_counter() - t)

    def close_session(self) -> None:
        """Stop Spark, then the JVM it launched, and wait for it to exit."""
        from pyspark import SparkContext

        spark, self.spark = self.spark, None
        if spark is None:
            return
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.jvm_peak_rss_mb = max(self.jvm_peak_rss_mb, peak_rss_mb(pid))
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        # the next open_session launches a new JVM instead of reusing this one
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def new_session(self, counted: bool = True) -> None:
        self.close_session()
        self.open_session(counted)

    def start_tracing(self) -> None:
        self.tracer = Tracer()
        self._saved = instrument(self.tracer)

    def stop_tracing(self) -> None:
        if self._saved is not None:
            restore(self._saved)
            self._saved = None

    @contextlib.contextmanager
    def paused(self):
        if self._saved is None:
            yield
            return
        tracer = self.tracer
        self.stop_tracing()
        self.tracer = NullTracer()
        try:
            yield
        finally:
            self.tracer = tracer
            self._saved = instrument(tracer)


def layer_metrics(ctx: Context, wl, log: dict) -> dict:
    tracer = ctx.tracer
    self_t = tracer.self_times()
    total = tracer.totals()
    per_span = attribute(tracer.spans, log)
    names = {s["id"]: s["name"] for s in tracer.spans}
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.get_spark_s"] = statistics.median(ctx.session_start_s)
    for metric, span in (
        ("models.plan_build_s", "models.plan"),
        ("models.execute_s", "models.execute"),
        ("incremental.merge_upsert_s", "incremental.merge_upsert"),
        ("dedup.minhash_lsh_candidates_s", "dedup.minhash_lsh_candidates"),
        ("dedup.jaccard_verify_s", "dedup.jaccard_verify"),
        ("cluster.connected_components_s", "cluster.connected_components"),
        ("similarity.centroids_s", "similarity.centroids"),
        ("similarity.batch_ivf_topk_s", "similarity.batch_ivf_topk"),
    ):
        out[metric] = self_t.get(span, 0.0)
    for q in ANALYST_QUERIES:
        out[f"analyst.{q}_s"] = total.get(f"analyst.{q}", 0.0)
    out["analyst.plan_s"] = total.get("analyst.plan", 0.0)
    out["analyst.execute_s"] = total.get("analyst.execute", 0.0)
    for sid, agg in per_span.items():
        for k in SPARK_TOTALS:
            out[f"spark.{k}"] += agg["run_s" if k == "executor_run_s" else k]
        if names[sid].startswith("analyst."):
            out["analyst.input_bytes"] += agg["input_bytes"]
        if names[sid] == "cluster.connected_components":
            out["cluster.components_jobs"] += agg["jobs"]
    out["proc.jvm_peak_rss_mb"] = ctx.jvm_peak_rss_mb
    out["proc.python_peak_rss_mb"] = peak_rss_mb("self")
    out["tracing.overhead_s"] = wl.probed_op_s() - wl.probe_s
    out.update(wl.layer_metrics(tracer))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import pyspark  # noqa: F401

        import stripe_data_pipeline_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = min(WORKLOADS[args.workload].CORES, len(os.sched_getaffinity(0)))
    run_dir = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    ctx = Context(run_dir, cores, args.seed, args.seconds, bool(args.trace))
    try:
        ctx.open_session()
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        if args.trace:
            ctx.start_tracing()
        try:
            wl.run()
        finally:
            ctx.stop_tracing()
        wl.check()
        wl.finish()
        ctx.close_session()

        if args.trace:
            metrics = layer_metrics(ctx, wl, read_event_log(ctx.event_dir))
            units = PER_LAYER
            ctx.tracer.write(os.path.join(ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = dict.fromkeys(END_TO_END, NOT_EXERCISED)
            metrics.update(
                wl.metrics,
                setup_s=statistics.median(ctx.session_start_s) + wl.setup_s,
                peak_rss_mb=ctx.jvm_peak_rss_mb + peak_rss_mb("self"),
            )
            units = END_TO_END
        print(
            json.dumps(
                {
                    "perfbench": {
                        "workload": args.workload,
                        "seed": args.seed,
                        "seconds": args.seconds,
                        "trace": args.trace,
                        "master": f"local[{cores}]",
                        "shuffle_partitions": cores,
                        "driver_memory": ctx.conf["spark.driver.memory"],
                        "spark_local_dirs": os.path.relpath(ctx.conf["spark.local.dir"], ROOT),
                        "sessions": len(ctx.session_start_s),
                        "samples": wl.samples,
                        "prebuild_s": wl.prebuild_s,
                        "failures": wl.ops.failures,
                    }
                }
            )
        )
        print(
            json.dumps(
                {
                    "correct": not wl.ops.failures,
                    "attempted": wl.ops.attempted,
                    "failed": len(wl.ops.failures),
                    "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
                }
            )
        )
        return 0
    finally:
        ctx.close_session()
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))


if __name__ == "__main__":
    sys.exit(main())
