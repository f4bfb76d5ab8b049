"""The traced run's instruments, all installed from outside the package:

- a per-op Spark job group set by the benchmark before each op;
- Spark's own event log (enabled through PYSPARK_SUBMIT_ARGS by run.py),
  parsed after the session stops;
- a StreamingQueryListener on `spark.streams`;
- wrappers around `io.load_table` (at every module attribute bound to
  it), `index_store.ensure_index` and `run_stream_to_df`.

`Tracer` records op windows and wrapper calls; `parse_event_log` turns
the event log into jobs; `layer_metrics` joins the two into the
per-layer metrics, per op and per traced cycle.
"""

from __future__ import annotations

import json
import os
import sys
import time

from metrics import dir_bytes, percentile

GROUP_PREFIX = "perfbench:"
MB = 1024 * 1024


# --------------------------------------------------------------------------
# wrappers and listener
# --------------------------------------------------------------------------

def _rebind(original, replacement) -> list[tuple[object, str]]:
    """Point every package module attribute bound to `original` at
    `replacement`; return the (module, attr) pairs changed."""
    changed = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("gmallbiguan_parent_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                changed.append((mod, attr))
    return changed


class Tracer:
    """Collects op windows and wrapper calls of the traced cycles."""

    def __init__(self, spark):
        self.spark = spark
        self.ops: list[dict] = []
        self.current: dict | None = None
        self.run_ids: dict[str, dict] = {}  # stream runId -> op record
        self._patched: list[tuple[object, str, object]] = []
        self._listener = None
        self._seen_chk: set[str] = set()

    # -- install / uninstall ------------------------------------------------
    def install(self) -> None:
        from gmallbiguan_parent_spark import io
        from gmallbiguan_parent_spark.operators import index_store
        from gmallbiguan_parent_spark.streaming import pipelines as stream_pipelines

        for mod, attr, wrap in (
            (io, "load_table", self._wrap_load_table),
            (index_store, "ensure_index", self._wrap_ensure_index),
            (stream_pipelines, "run_stream_to_df", self._wrap_run_stream),
        ):
            original = getattr(mod, attr)
            for m, a in _rebind(original, wrap(original)):
                self._patched.append((m, a, original))
        self._listener = _make_listener(self)
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for mod, attr, original in self._patched:
            setattr(mod, attr, original)
        self._patched.clear()
        if self._listener is not None:
            # listener events arrive asynchronously; a query's terminated
            # event follows all its progress events
            deadline = time.time() + 5
            while time.time() < deadline and any(
                    span[1] is None for op in self.ops for span in op["stream_spans"]):
                time.sleep(0.02)
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- op windows ---------------------------------------------------------
    def begin_op(self, name: str, cycle: int) -> dict:
        rec = {
            "name": name, "cycle": cycle, "group": f"{GROUP_PREFIX}{len(self.ops)}:{name}",
            "t0": time.time(), "t1": None, "build_t1": None,
            "loads": [], "ensure": [], "replays": [], "progress": [],
            "stream_spans": [], "checkpoint_bytes": 0,
        }
        self.spark.sparkContext.setJobGroup(rec["group"], name)
        self.ops.append(rec)
        self.current = rec
        return rec

    def built(self) -> None:
        self.current["build_t1"] = time.time()

    def end_op(self) -> None:
        rec = self.current
        rec["t1"] = time.time()
        if rec["build_t1"] is None:
            rec["build_t1"] = rec["t1"]
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.spark.sparkContext.setLocalProperty("spark.job.description", None)
        rec["checkpoint_bytes"] = self._new_checkpoint_bytes()
        self.current = None

    def _new_checkpoint_bytes(self) -> int:
        """Bytes of streaming checkpoint directories created since the
        last call (the engine names them `_chk` or `chk_*`)."""
        total = 0
        for d, subdirs, _ in os.walk(os.environ.get("TMPDIR", "/nonexistent")):
            for s in list(subdirs):
                if s == "_chk" or s.startswith("chk_"):
                    path = os.path.join(d, s)
                    subdirs.remove(s)
                    if path not in self._seen_chk:
                        self._seen_chk.add(path)
                        total += dir_bytes(path)
        return total

    # -- wrappers -----------------------------------------------------------
    def _wrap_load_table(self, fn):
        def load_table(spark, sf_dir, name):
            t0 = time.time()
            try:
                return fn(spark, sf_dir, name)
            finally:
                if self.current is not None:
                    self.current["loads"].append((sf_dir, name, (time.time() - t0) * 1e3))
        return load_table

    def _wrap_ensure_index(self, fn):
        def ensure_index(spark, sf_dir, variant="full", **kw):
            t0 = time.time()
            root = fn(spark, sf_dir, variant, **kw)
            if self.current is not None:
                self.current["ensure"].append((t0, time.time(), dir_bytes(root)))
            return root
        return ensure_index

    def _wrap_run_stream(self, fn):
        def run_stream_to_df(spark, sf_dir, runner, out_dir=None):
            t0 = time.time()
            try:
                return fn(spark, sf_dir, runner, out_dir)
            finally:
                if self.current is not None:
                    self.current["replays"].append((t0, time.time()))
        return run_stream_to_df

    # -- listener callbacks (py4j callback thread) ---------------------------
    def on_stream_start(self, run_id: str) -> None:
        if self.current is not None:
            self.run_ids[run_id] = self.current
            self.current["stream_spans"].append([time.time(), None])

    def on_progress(self, run_id: str, progress: dict) -> None:
        rec = self.run_ids.get(run_id)
        if rec is not None:
            rec["progress"].append(progress)

    def on_stream_end(self, run_id: str) -> None:
        rec = self.run_ids.get(run_id)
        if rec is not None:
            for span in rec["stream_spans"]:
                if span[1] is None:
                    span[1] = time.time()
                    break


def _make_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            tracer.on_stream_start(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            tracer.on_progress(str(p.runId), {
                "rows": p.numInputRows,
                "durations": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            tracer.on_stream_end(str(event.runId))

    return _Listener()


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

def parse_event_log(path: str) -> list[dict]:
    """Jobs of one uncompressed Spark event log (a file, or the directory
    of a rolling log), with their stages' task totals. Times are epoch
    seconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = {
                "id": ev["Job ID"], "t0": ev["Submission Time"] / 1e3, "t1": None,
                "group": props.get("spark.jobGroup.id"), "failed": False,
                "stages": 0, "tasks": 0, "tasks_failed": 0, "run_s": 0.0, "cpu_s": 0.0,
                "gc_s": 0.0, "deser_s": 0.0, "fetch_wait_s": 0.0, "shuffle_read": 0,
                "shuffle_write": 0, "spill": 0, "input_bytes": 0, "input_rows": 0,
            }
            jobs[job["id"]] = job
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job["id"])
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["t1"] = ev["Completion Time"] / 1e3
                job["failed"] = ev.get("Job Result", {}).get("Result") != "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
            if job is not None:
                job["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            if job is not None:
                _add_task(job, ev)
    return [j for j in jobs.values() if j["t1"] is not None]


def _add_task(job: dict, ev: dict) -> None:
    job["tasks"] += 1
    info = ev.get("Task Info", {})
    if info.get("Failed") or info.get("Killed"):
        job["tasks_failed"] += 1
    m = ev.get("Task Metrics") or {}
    job["run_s"] += m.get("Executor Run Time", 0) / 1e3
    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    job["deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    job["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    job["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    inp = m.get("Input Metrics") or {}
    job["input_bytes"] += inp.get("Bytes Read", 0)
    job["input_rows"] += inp.get("Records Read", 0)


def _event_lines(path: str):
    if os.path.isdir(path):  # rolling: events_<n>_<app> parts
        parts = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        paths = [os.path.join(path, f) for f in parts]
    else:
        paths = [path]
    for p in paths:
        with open(p) as fh:
            yield from fh


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in (app_id, app_id + ".inprogress", "eventlog_v2_" + app_id):
        p = os.path.join(log_dir, name)
        if os.path.exists(p):
            return p
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


# --------------------------------------------------------------------------
# joining ops and jobs
# --------------------------------------------------------------------------

def _union_ms(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `spans` clipped to [lo, hi], in ms."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in clipped:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total * 1e3


def assign_jobs(ops: list[dict], jobs: list[dict], run_ids: dict[str, dict]) -> int:
    """Attach each job to the traced op it belongs to (`op["jobs"]`).

    A job belongs to an op when it carries the op's job group, or the
    group of a streaming query the op started, or else when it was
    submitted inside the op's window. Returns the number of jobs
    attributed only by time: they carry no op's job group."""
    by_group = {op["group"]: op for op in ops}
    by_group.update({rid: op for rid, op in run_ids.items()})
    for op in ops:
        op["jobs"] = []
    unattributed = 0
    for job in jobs:
        op = by_group.get(job["group"])
        if op is None:
            op = next((o for o in ops if o["t0"] <= job["t0"] <= o["t1"]), None)
            if op is None:
                continue
            unattributed += 1
        op["jobs"].append(job)
    return unattributed


def op_breakdown(op: dict) -> dict:
    """One op's record. build_ms + post_build_job_ms + post_build_outside_ms
    equals wall_ms: the time in the query function before it returns its
    DataFrame, then the job spans and the driver gaps after it."""
    t0, b1, t1 = op["t0"], op["build_t1"], op["t1"]
    spans = [(j["t0"], j["t1"]) for j in op["jobs"]]
    wall_ms = (t1 - t0) * 1e3
    job_ms = _union_ms(spans, t0, t1)
    post_job_ms = _union_ms(spans, b1, t1)
    return {
        "op": op["name"],
        "wall_ms": wall_ms,
        "build_ms": (b1 - t0) * 1e3,
        "post_build_job_ms": post_job_ms,
        "post_build_outside_ms": (t1 - b1) * 1e3 - post_job_ms,
        "job_span_ms": job_ms,
        "outside_jobs_ms": wall_ms - job_ms,
        "build_jobs": sum(1 for j in op["jobs"] if t0 <= j["t0"] <= b1),
        "jobs": len(op["jobs"]),
    }


def layer_metrics(ops: list[dict], unattributed: int, cycles: int, cores: int,
                  op_names: list[str]) -> dict[str, float]:
    """Per-layer metrics of the traced ops, summed and divided by the
    number of traced cycles (so runs with different cycle counts
    compare)."""
    n = max(cycles, 1)
    jobs = [j for op in ops for j in op["jobs"]]
    rows = [op_breakdown(op) for op in ops]
    loads = [ld for op in ops for ld in op["loads"]]
    seen, repeats = set(), 0
    for sf_dir, name, _ in loads:
        repeats += (sf_dir, name) in seen
        seen.add((sf_dir, name))
    span_ms = sum(r["job_span_ms"] for r in rows)
    cpu_s = sum(j["cpu_s"] for j in jobs)
    tasks = sum(j["tasks"] for j in jobs)
    ensures = [e for op in ops for e in op["ensure"]]
    ensure_jobs = sum(1 for op in ops for j in op["jobs"]
                      for a, b, _ in op["ensure"] if a <= j["t0"] <= b)
    progress = [p for op in ops for p in op["progress"]]
    trig = [p["durations"].get("triggerExecution", 0) for p in progress]
    # replay time: the union of each query's start-to-termination span
    # (listener) and each run_stream_to_df call (wrapper)
    replays = {id(op): [(a, b) for a, b in op["stream_spans"] + op["replays"] if b is not None]
               for op in ops}
    out = {
        "io.load_table.calls": len(loads) / n,
        "io.load_table.ms": sum(ms for _, _, ms in loads) / n,
        "io.load_table.repeat_frac": repeats / len(loads) if loads else 0.0,
        "pipelines.build_ms": sum(r["build_ms"] for r in rows) / n,
        "pipelines.build_jobs": sum(r["build_jobs"] for r in rows) / n,
        "pipelines.outside_jobs_ms": sum(r["outside_jobs_ms"] for r in rows) / n,
        "spark.jobs": len(jobs) / n,
        "spark.stages": sum(j["stages"] for j in jobs) / n,
        "spark.tasks": tasks / n,
        "spark.job_span_ms": span_ms / n,
        "spark.task_run_s": sum(j["run_s"] for j in jobs) / n,
        "spark.task_cpu_s": cpu_s / n,
        "spark.cpu_util": cpu_s / (span_ms / 1e3 * cores) if span_ms else 0.0,
        "spark.gc_s": sum(j["gc_s"] for j in jobs) / n,
        "spark.deserialize_s": sum(j["deser_s"] for j in jobs) / n,
        "spark.shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / MB / n,
        "spark.shuffle_read_mb": sum(j["shuffle_read"] for j in jobs) / MB / n,
        "spark.fetch_wait_s": sum(j["fetch_wait_s"] for j in jobs) / n,
        "spark.spill_mb": sum(j["spill"] for j in jobs) / MB / n,
        "spark.input_mb": sum(j["input_bytes"] for j in jobs) / MB / n,
        "spark.input_rows": sum(j["input_rows"] for j in jobs) / n,
        "spark.task_failed_frac": sum(j["tasks_failed"] for j in jobs) / tasks if tasks else 0.0,
        "spark.jobs_unattributed": unattributed / n,
        "index_store.build_s": sum(b - a for a, b, _ in ensures) / n,
        "index_store.build_jobs": ensure_jobs / n,
        "index_store.bytes_written_mb": sum(s for _, _, s in ensures) / MB / n,
        "index_store.read_ms": sum(r["wall_ms"] for r in rows
                                   if r["op"].endswith("_from_index")) / n,
        "streaming.replay_ms": sum(_union_ms(replays[id(op)], op["t0"], op["t1"])
                                   for op in ops) / n,
        "streaming.batches": len(progress) / n,
        "streaming.empty_batch_frac": (sum(1 for p in progress if p["rows"] == 0) / len(progress)
                                       if progress else 0.0),
        "streaming.batch_ms_p50": percentile(trig, 50) if trig else 0.0,
        "streaming.add_batch_ms": sum(p["durations"].get("addBatch", 0) for p in progress) / n,
        "streaming.query_planning_ms": sum(p["durations"].get("queryPlanning", 0)
                                           for p in progress) / n,
        "streaming.commit_ms": sum(p["durations"].get("walCommit", 0)
                                   + p["durations"].get("commitOffsets", 0)
                                   for p in progress) / n,
        "streaming.state_rows": max((p["state_rows"] for p in progress), default=0),
        "streaming.state_mem_mb": max((p["state_bytes"] for p in progress), default=0) / MB,
        "streaming.checkpoint_mb": sum(op["checkpoint_bytes"] for op in ops) / MB / n,
    }
    for name in op_names:
        walls = [r["wall_ms"] for r in rows if r["op"] == name]
        out[f"op.{name}.ms"] = percentile(walls, 50) if walls else 0.0
    return out
