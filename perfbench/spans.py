"""Tracing for the per-layer run: spans, Spark event-log attribution,
and wrappers around the program's public functions.

Spans are recorded by the benchmark's own code only. ``instrument``
swaps public module attributes of the program for wrappers that open a
span, force the lazy DataFrame they return (so its Spark jobs land in
that span) and record counts; ``restore`` puts the originals back.
Nothing here is active in an untraced run: there the benchmark uses
``NullTracer`` and never calls ``instrument``.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

PARQUET_PREFIX = "part-"


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def begin_op(self, label: str) -> None:
        pass


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent span
    id and the id of the op they belong to."""

    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.merges: list[dict] = []
        self._stack: list[int] = []
        self._op = -1
        self.op_label = ""

    def begin_op(self, label: str) -> None:
        self._op += 1
        self.op_label = label

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def count(self, name: str, v: float) -> None:
        self.counters[name] += v

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part its
        child spans cover (children never overlap: one client thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def totals(self) -> dict[str, float]:
        """Total inclusive time per span name."""
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters, "merges": self.merges}, f)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_TASK_KEYS = ("run_s", "input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def read_event_log(log_dir: str) -> dict:
    """Jobs (submission time, stages) and per-stage task totals from the
    application logs in ``log_dir``, one per session; ids are keyed by
    (log index, id) because each application counts from 0."""
    files = sorted(f for f in os.listdir(log_dir) if not f.startswith("."))
    if not files or any(f.endswith(".inprogress") for f in files):
        raise RuntimeError(f"expected finished event logs in {log_dir}, found {files}")
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    stages = defaultdict(lambda: dict.fromkeys(_TASK_KEYS, 0.0) | {"tasks": 0})
    completed: set[tuple] = set()
    for app, name in enumerate(files):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    e = json.loads(line)
                    jobs[app, e["Job ID"]] = {"submit_ms": e["Submission Time"]}
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault((app, sid), (app, e["Job ID"]))
                elif line.startswith('{"Event":"SparkListenerStageCompleted"'):
                    completed.add((app, json.loads(line)["Stage Info"]["Stage ID"]))
                elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    e = json.loads(line)
                    m = e.get("Task Metrics") or {}
                    st = stages[app, e["Stage ID"]]
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stage_job": stage_job, "stages": dict(stages), "completed": completed}


def attribute(spans: list[dict], log: dict) -> dict[int, dict]:
    """Spark work per span id: each job goes to the innermost span open
    at its submission time, each stage and task to the job that first
    listed it. Jobs outside every span (setup, output checks) are
    dropped."""
    per_span: dict[int, dict] = defaultdict(lambda: dict.fromkeys(_TASK_KEYS, 0.0) | {"jobs": 0, "stages": 0, "tasks": 0})
    job_span: dict[tuple, int] = {}
    for jid, j in log["jobs"].items():
        t = j["submit_ms"] / 1000.0
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        if best is not None:
            job_span[jid] = best["id"]
            per_span[best["id"]]["jobs"] += 1
    for sid, st in log["stages"].items():
        span = job_span.get(log["stage_job"].get(sid))
        if span is None:
            continue
        agg = per_span[span]
        agg["stages"] += sid in log["completed"]
        agg["tasks"] += st["tasks"]
        for k in _TASK_KEYS:
            agg[k] += st[k]
    return per_span


# ---------------------------------------------------------------------------
# directory diff around merge_upsert
# ---------------------------------------------------------------------------


def list_files(root: str) -> dict[str, int]:
    """relative path -> size for every data file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith(PARQUET_PREFIX):
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def parquet_rows(root: str, rel_paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(root, p)).num_rows for p in rel_paths)


# ---------------------------------------------------------------------------
# wrappers around the program's public functions
# ---------------------------------------------------------------------------

MODEL_FUNCTIONS = (
    "stage",
    "curated_invoices",
    "curated_invoice_line_items",
    "curated_subscription_states",
    "exchange_rates",
    "with_usd_amounts",
    "daily_revenue_facts",
    "recognized_daily_facts_halfopen",
)


def _planned(tracer: Tracer, f):
    """Model builders return lazy DataFrames: their span is the
    driver-side planning only."""

    def w(*a, **k):
        with tracer.span("models.plan"):
            return f(*a, **k)

    return w


def _forced(tracer: Tracer, name: str, f, count_as: str | None):
    def w(*a, **k):
        with tracer.span(name):
            df = f(*a, **k).localCheckpoint(eager=True)
            if count_as:
                tracer.count(count_as, df.count())
        return df

    return w


def _merge(tracer: Tracer, f):
    def w(spark, target_path, updates, keys, partition_by=None):
        with tracer.span("incremental.merge_upsert"):
            # upstream model work runs here, not inside the merge's self time
            with tracer.span("models.execute"):
                updates = updates.localCheckpoint(eager=True)
                rows_in = updates.count()
            with tracer.span("tracing.dirscan"):
                before = list_files(target_path)
            f(spark, target_path, updates, keys, partition_by)
            with tracer.span("tracing.dirscan"):
                after = list_files(target_path)
                added = [p for p in after if p not in before]
                removed = [p for p in before if p not in after]
                parts = {os.path.dirname(p) for p in added + removed}
                tracer.merges.append(
                    {
                        "op": tracer.op_label,
                        "table": os.path.basename(target_path.rstrip("/")),
                        "rows_in": rows_in,
                        "files_written": len(added),
                        "bytes_written": sum(after[p] for p in added),
                        "rows_written": parquet_rows(target_path, added),
                        "partitions_touched": len(parts),
                    }
                )

    return w


def instrument(tracer: Tracer):
    """Wrap the public functions the workloads reach; returns the list
    of (module, name, original) for ``restore``."""
    from stripe_data_pipeline_spark.operators import cluster, dedup, similarity
    from stripe_data_pipeline_spark.plans import pipeline

    saved = []

    def patch(mod, name, wrapper):
        orig = getattr(mod, name)
        saved.append((mod, name, orig))
        setattr(mod, name, wrapper(orig))

    for name in MODEL_FUNCTIONS:
        patch(pipeline, name, lambda f: _planned(tracer, f))
    patch(pipeline, "merge_upsert", lambda f: _merge(tracer, f))
    patch(dedup, "minhash_lsh_candidates", lambda f: _forced(tracer, "dedup.minhash_lsh_candidates", f, "dedup.candidate_pairs"))
    patch(dedup, "jaccard_verify", lambda f: _forced(tracer, "dedup.jaccard_verify", f, "dedup.verified_pairs"))
    patch(cluster, "connected_components", lambda f: _forced(tracer, "cluster.connected_components", f, None))
    patch(similarity, "centroids", lambda f: _forced(tracer, "similarity.centroids", f, None))
    return saved


def restore(saved) -> None:
    for mod, name, orig in reversed(saved):
        setattr(mod, name, orig)
